package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** Deterministic sampling operators for large-scale pipelines.
  *
  * Random `df.sample()` is non-reproducible across partitionings (seed
  * is per-partition), which breaks both auditability and any oracle
  * check. These samplers are pure functions of the row key: re-runs,
  * re-partitions, and other engines agree exactly.
  *
  * Scale: all variants are a single narrow `filter` — no shuffle, fully
  * pushdown-friendly (the modulo predicate reaches the scan).
  */
object Sampling {

  /** Weighted (importance) sampling: inclusion probability proportional
    * to a weight column at a target overall rate —
    * P(keep) = min(1, targetFrac · w / mean(w)). The curation move
    * "keep high-quality documents with proportionally higher
    * probability". Deterministic per key (same affine-hash uniform as
    * `sampleByTokenBudget`), so re-runs and engines agree exactly;
    * with integer-valued weights the mean is an exact ratio and the
    * rate arithmetic is engine-exact.
    *
    * Scale: one 1-row aggregate broadcast back + a narrow filter.
    */
  def byWeight(
      df: DataFrame, keyCol: String, weightCol: String,
      targetFrac: Double): DataFrame = {
    require(targetFrac >= 0 && targetFrac <= 1, s"targetFrac must be in [0,1], got $targetFrac")
    val w = graft.ops.Cleaning.qcol(weightCol)
    val stats = df.agg(
      sum(w.cast("long")).as("__ws"), count(w).as("__wn"))
    val u = PortableHash.affineUniform(graft.ops.Cleaning.qcol(keyCol))
    df.crossJoin(broadcast(stats))
      .filter(u < least(lit(1.0),
        lit(targetFrac) * (w.cast("double") * col("__wn") / col("__ws"))))
      .drop("__ws", "__wn")
  }

  /** Data-mixture construction by token budget: downsample each group
    * (source/domain/language) to at most `budgets(group)` tokens in
    * expectation, leaving under-budget groups intact. THE operation
    * that turns a raw crawl into a training mixture ("cap source X at
    * 10B tokens").
    *
    * rate(g) = min(1, budget(g) / total_tokens(g)); a row is kept when
    * its deterministic per-key uniform u(key) < rate(g). u is an
    * affine hash mod the prime 1000003 folded to [0,1) — reproducible
    * across runs, partitionings, and engines (products stay < 2^40 at
    * ANY key magnitude, safe under ANSI overflow checking).
    *
    * Scale: one hash-aggregate for the per-group totals (group
    * cardinality = number of sources, tiny), broadcast back, then a
    * narrow filter. Groups absent from `budgets` are kept whole.
    */
  def sampleByTokenBudget(
      df: DataFrame, keyCol: String, textCol: String, groupCol: String,
      budgets: Map[String, Long]): DataFrame = {
    val g = graft.ops.Cleaning.qcol(groupCol).cast("string")
    val tokc = TextAnalysis.tokenCount(graft.ops.Cleaning.qcol(textCol)).cast("long")
    val totals = df.groupBy(g.as("__g")).agg(sum(tokc).as("__total"))
    val budgetExpr = budgets.foldLeft(lit(null).cast("long")) {
      case (acc, (k, b)) => when(col("__g") === k, lit(b)).otherwise(acc)
    }
    val u = PortableHash.affineUniform(graft.ops.Cleaning.qcol(keyCol))
    // null-safe join: a null group is a group (kept whole unless
    // budgeted) — a plain equi-join would silently drop those rows
    df.join(broadcast(totals), g <=> col("__g"))
      .withColumn("__rate",
        coalesce(least(lit(1.0), budgetExpr.cast("double") / col("__total")), lit(1.0)))
      .filter(u < col("__rate"))
      .drop("__g", "__total", "__rate")
  }

  /** Mixture-drift audit — "did the mixer deliver the recipe": the
    * realized per-group TOKEN share of a (post-sampling) corpus vs the
    * caller's target weights, with a micro drift budget. Target shares
    * normalize driver-side and round half-up to micro (one exact
    * literal per group — the temperature-rate determinism move), so
    * the verdict is engine-exact. Groups in the corpus but not the
    * recipe audit against target 0 (an off-recipe source is drift, not
    * noise); recipe groups absent from the corpus emit a row with 0
    * tokens (a missing source must page, not vanish). Null groups are
    * the group "" (the [[splitAssignGrouped]] convention).
    *
    * Output: one row per group (group, tokens, realized_micro,
    * target_micro, drift_micro = |realized − target|,
    * within_tolerance); realized_micro NULL on an all-empty corpus.
    *
    * Scale: ONE token aggregate onto the group key, a 1-row total
    * broadcast, and a |recipe|-row lattice outer-joined in — the
    * corpus is scanned once.
    */
  def mixtureDriftAudit(
      df: DataFrame, groupCol: String, textCol: String,
      targets: Map[String, Double], toleranceMicro: Long): DataFrame = {
    require(targets.nonEmpty, "mixtureDriftAudit: targets must be non-empty")
    require(targets.values.forall(_ >= 0), "mixtureDriftAudit: weights must be >= 0")
    require(toleranceMicro >= 0, "mixtureDriftAudit: toleranceMicro must be >= 0")
    val wsum = targets.toSeq.sortBy(_._1).map(_._2).sum
    require(wsum > 0, "mixtureDriftAudit: weights must not all be zero")
    // exact micro literals, half-up, summed in sorted key order
    val targetMicro: Map[String, Long] = targets.map { case (k, w) =>
      k -> math.floor(w / wsum * 1000000.0 + 0.5).toLong
    }
    val spark = df.sparkSession
    import spark.implicits._
    val lattice = targetMicro.toSeq.sortBy(_._1)
      .toDF("group", "target_micro")
    val g = coalesce(graft.ops.Cleaning.qcol(groupCol).cast("string"), lit(""))
    val tok = coalesce(
      TextAnalysis.tokenCount(graft.ops.Cleaning.qcol(textCol)).cast("long"), lit(0L))
    val observed = df.groupBy(g.as("group")).agg(sum(tok).as("tokens"))
    val joined = observed.join(lattice, Seq("group"), "full_outer")
      .select(col("group"),
        coalesce(col("tokens"), lit(0L)).as("tokens"),
        coalesce(col("target_micro"), lit(0L)).as("target_micro"))
    val total = joined.agg(sum(col("tokens")).as("__tot"))
    joined.crossJoin(broadcast(total))
      .withColumn("realized_micro",
        when(col("__tot") > 0L, expr("(tokens * 1000000L) div __tot")))
      .withColumn("drift_micro",
        abs(coalesce(col("realized_micro"), lit(0L)) - col("target_micro")))
      .withColumn("within_tolerance", col("drift_micro") <= toleranceMicro)
      .select(col("group"), col("tokens"), col("realized_micro"),
        col("target_micro"), col("drift_micro"), col("within_tolerance"))
  }

  /** Temperature-balanced mixture sampling — the multilingual /
    * multi-source pretraining reweighting (mT5 / XLM-R style): group g
    * with token mass T_g is sampled at p(g) ∝ T_g^α, α ∈ (0, 1], so
    * low-resource sources are UP-weighted relative to their raw share
    * (α = 1 reduces to proportional = keep-everything-at-budget;
    * α → 0 approaches uniform across groups). Concretely, with total
    * token budget B: target_g = B · T_g^α / Σ_h T_h^α and
    * rate(g) = min(1, target_g / T_g); a row is kept when its
    * deterministic per-key affine-hash uniform < rate(g) — the same
    * portable u as [[sampleByTokenBudget]].
    *
    * Determinism: group masses are a source-count-sized frame
    * (collected like the crosstab category grid); Z = Σ T^α and the
    * per-group rates are computed on the DRIVER with a SORTED
    * left-associative fold and rounded half-up to 6 dp (pow() is not
    * a correctly-rounded IEEE op, so the coarser grid keeps the floor
    * boundary far from any cross-engine pow drift -- the same
    * reasoning as the unigram scorer's micro-nat rounding), so the
    * rate constants — and therefore the kept set — are engine-exact and
    * partition-order-independent (a distributed double Σ over groups
    * would not be). Scale: one hash aggregate over |groups|, rates join
    * back as a small BROADCAST frame (not an O(|groups|)-deep CASE
    * chain, which blows up codegen depth), then a narrow filter. The
    * driver-sized-model contract is enforced: the mass collect is
    * limit-capped at [[MaxTemperatureGroups]] and fails loudly past it
    * (a key column passed as the group by mistake must error, not OOM
    * the driver).
    */
  val MaxTemperatureGroups = 1000000

  def sampleByTemperature(
      df: DataFrame, keyCol: String, textCol: String, groupCol: String,
      alpha: Double, totalBudget: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(totalBudget > 0, s"totalBudget must be > 0, got $totalBudget")
    val g = graft.ops.Cleaning.qcol(groupCol).cast("string")
    val tokc = TextAnalysis.tokenCount(graft.ops.Cleaning.qcol(textCol)).cast("long")
    // orderBy precedes limit, so the cap is a TakeOrdered — the fold
    // order (and therefore z) is unchanged for every in-bound input
    val massRows = df.groupBy(g.as("__g")).agg(sum(tokc).as("__t"))
      .orderBy(asc_nulls_first("__g")).limit(MaxTemperatureGroups + 1).collect()
    require(massRows.length <= MaxTemperatureGroups,
      s"sampleByTemperature: >$MaxTemperatureGroups distinct groups in '$groupCol' — not a mixture-shaped column")
    val masses = massRows
      .map(r => (if (r.isNullAt(0)) null else r.getString(0)) ->
        (if (r.isNullAt(1)) 0L else r.getLong(1)))
    val z = masses.foldLeft(0.0) { case (acc, (_, t)) =>
      acc + math.pow(t.toDouble, alpha) }
    // floored at 1e-6: a group whose true rate rounds below the 6 dp
    // grid must still be SAMPLED, not silently zeroed (up to 2× over-
    // sampling of a ~sub-ppm rate, vs dropping the source outright)
    def rate(t: Long): Double =
      if (t <= 0 || z <= 0) 1.0
      else math.max(1e-6, math.floor(math.min(1.0,
        totalBudget * math.pow(t.toDouble, alpha) / z / t) * 1e6 + 0.5) / 1e6)
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val rates = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(masses.map { case (k, t) => SRow(k, rate(t)) }: _*),
      StructType(Seq(StructField("__g", StringType), StructField("__rate", DoubleType))))
    val u = PortableHash.affineUniform(graft.ops.Cleaning.qcol(keyCol))
    val outCols = df.columns.map(graft.ops.Cleaning.qcol)
    // null-safe join: a null group is a group (cf. sampleByTokenBudget);
    // groups unseen at fit time (impossible here — rates come from the
    // same frame) default to kept-whole
    df.join(broadcast(rates), g <=> col("__g"), "left")
      .filter(u < coalesce(col("__rate"), lit(1.0)))
      .select(outCols: _*)
  }

  /** Epoch allocation by capped water-filling — the "how many epochs of
    * each source" computation behind a pretraining data recipe: given
    * target mixture weights w_i, a total token budget B, and a repeat
    * ceiling of `maxEpochs` passes over any source, allocate
    * a_i = min(capacity_i, λ·w_i) tokens with capacity_i =
    * maxEpochs·tokens_i and λ the unique waterline making Σa_i = B
    * (when B exceeds total capacity every source caps out and the
    * budget is infeasible at this ceiling — visible as Σ epochs·tokens
    * < B). Sources absent from `weights` (or at weight 0) get 0.
    *
    * Closed form, no iteration: sorted by capacity/weight ascending,
    * the capped set is a prefix — source i caps iff
    * r_i·(W − W_i) ≤ B − C_i with r_i = capacity_i/weight_i and
    * C_i/W_i the running capacity/weight sums through i. λ then comes
    * from the capped prefix in one step. Everything after the
    * per-source token aggregate runs on a |weights|-sized summary
    * frame: weights land in micro-units (exact longs), capacities are
    * half-up longs, ALL running/total sums are integer-exact
    * (order-invariant), and the only doubles are single-op
    * ratio/product/divide expressions an oracle engine reproduces
    * bit-for-bit when written in the same shape.
    *
    * Output: (source, tokens_available, weight, allocated_tokens
    * [half-up long], epochs [= allocated/available, half-up 6 dp]).
    * Each UNCAPPED source rounds λ·w_i independently (half-up), so
    * Σ allocated_tokens can drift from `budgetTokens` by up to half a
    * token per uncapped source — pick the budget's unit (tokens, not
    * billions-of-tokens) so that drift is immaterial, as any fixup
    * (e.g. dumping the residual on one source) would trade exactness
    * of the per-source shares for exactness of the total.
    *
    * Every POSITIVE-weight key in `weights` must name a source present
    * in `df`: an absent key (a typo, or a source missing from this
    * delivery) would otherwise silently redistribute that source's
    * share across the rest — the plan fails loudly instead (checked
    * inside the plan, no extra action at call time).
    *
    * Scale: ONE hash aggregate over the corpus (|sources| rows out),
    * then arithmetic on a frame bounded by the caller's literal weight
    * map — the unpartitioned window sorts |weights| rows, not data.
    */
  def epochAllocation(
      df: DataFrame, textCol: String, sourceCol: String,
      weights: Map[String, Double], budgetTokens: Long,
      maxEpochs: Double = 4.0): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be > 0, got $budgetTokens")
    require(maxEpochs > 0, s"maxEpochs must be > 0, got $maxEpochs")
    require(weights.nonEmpty, "weights must be non-empty")
    // the unpartitioned waterline window sorts exactly the
    // positive-weight sources — enforce the summary-size contract on
    // the driver-side map itself (static: fails at call time)
    require(weights.size <= 100000,
      s"epochAllocation: ${weights.size} weight keys would put a " +
        "corpus-sized frame under the unpartitioned waterline window")
    require(weights.values.forall(v => v >= 0 && !v.isNaN && !v.isInfinite),
      "weights must be finite and >= 0")
    require(weights.values.exists(_ > 0), "at least one weight must be > 0")
    // the closed form runs on micro-unit long weights: a positive
    // weight that rounds to 0 micro-units would divide by zero in the
    // ratio and silently corrupt the waterline — reject it loudly
    // (the boundary is the half-up quantization's own: v >= 5e-7
    // rounds to >= 1 micro-unit and stays valid)
    require(weights.values.forall(v => v == 0 || math.floor(v * 1e6 + 0.5) >= 1),
      "positive weights must quantize to >= 1 micro-unit (>= 5e-7)")
    import org.apache.spark.sql.expressions.Window
    val src = graft.ops.Cleaning.qcol(sourceCol).cast("string")
    val tokc = TextAnalysis.tokenCount(graft.ops.Cleaning.qcol(textCol)).cast("long")
    val totals = df.groupBy(src.as("source")).agg(sum(tokc).as("tokens_available"))
    val wExpr = weights.foldLeft(lit(null).cast("double")) {
      case (acc, (k, v)) => when(col("source") === k, lit(v)).otherwise(acc)
    }
    val base = totals.withColumn("weight", coalesce(wExpr, lit(0.0)))
    val pos = base.filter(col("weight") > 0)
      .withColumn("__wm", floor(col("weight") * 1000000.0 + 0.5).cast("long"))
      .withColumn("__cap",
        floor(lit(maxEpochs) * col("tokens_available").cast("double") + lit(0.5))
          .cast("long"))
      .withColumn("__r", col("__cap").cast("double") / col("__wm").cast("double"))
    val w = Window.orderBy(asc("__r"), asc("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = pos.agg(sum("__cap").as("__capT"), sum("__wm").as("__wmT"))
    val flagged = pos.crossJoin(broadcast(tot))
      .withColumn("__cc", sum(col("__cap")).over(w))
      .withColumn("__cw", sum(col("__wm")).over(w))
      .withColumn("__capped",
        col("__r") * (col("__wmT") - col("__cw")).cast("double") <=
          (lit(budgetTokens) - col("__cc")).cast("double"))
    val cappedSums = flagged.agg(
      sum(when(col("__capped"), col("__cap")).otherwise(lit(0L))).as("__capC"),
      sum(when(col("__capped"), col("__wm")).otherwise(lit(0L))).as("__wmC"))
    val allocated = flagged.crossJoin(broadcast(cappedSums))
      .withColumn("__lambda",
        when(col("__wmT") > col("__wmC"),
          (lit(budgetTokens) - col("__capC")).cast("double") /
            (col("__wmT") - col("__wmC")).cast("double")))
      .withColumn("allocated_tokens",
        when(col("__capped"), col("__cap"))
          .otherwise(floor(col("__lambda") * col("__wm").cast("double") + lit(0.5))
            .cast("long")))
    val out = allocated.select(col("source"), col("tokens_available"),
        col("weight"), col("allocated_tokens"))
      .unionByName(base.filter(!(col("weight") > 0))
        .select(col("source"), col("tokens_available"), col("weight"),
          lit(0L).as("allocated_tokens")))
    // positive-weight keys absent from the data would silently
    // redistribute their budget share (the waterfill only sees sources
    // present in `df`) — fail loudly, in-plan (the 1-row check rides
    // the same |sources| aggregate; a filter can't be pruned away, so
    // the raise_error is guaranteed to evaluate)
    val expectedPos = weights.count { case (_, v) => v > 0 }.toLong
    val check = pos.agg(count(lit(1)).as("__np"))
      .select(when(col("__np") === expectedPos, lit(true))
        .otherwise(raise_error(format_string(
          "epochAllocation: %d positive-weight sources in the weight map" +
            " but only %s present in the data — a missing or typo'd" +
            " source name would silently redistribute its budget share",
          lit(expectedPos), col("__np")))).as("__src_ok"))
    out.crossJoin(broadcast(check)).where(col("__src_ok")).drop("__src_ok")
      .withColumn("epochs",
      when(col("tokens_available") > 0, graft.ops.Rounding.halfUp(
        col("allocated_tokens").cast("double") /
          col("tokens_available").cast("double"), 6)).otherwise(lit(0.0)))
  }

  /** Curriculum banding: assign every scored document a band index in
    * [0, bands) by its position in the corpus-wide score distribution
    * — band 0 = lowest-scoring decile (at bands = 10), the order a
    * curriculum schedule feeds training (easy/low-quality first or
    * last, the trainer's choice). Exact-arithmetic quantiles at GRID
    * resolution: scores (longs — the score_micro convention) bucket
    * onto a `grid`-cell integer lattice between the observed min/max,
    * the |grid|-row histogram's running count places each bucket's
    * docs at `(docs_strictly_below × bands) div n`, and every doc in a
    * bucket (and thus every tied score) shares a band. No floating
    * point anywhere — re-runs, partitionings, and engines agree
    * bit-for-bit; the only approximation is the declared lattice
    * (band boundaries can shift by one bucket's width, never drift).
    * Null scores are excluded — an unscorable document has no place in
    * a curriculum (cf. [[keepBestKPerGroup]]'s null-loses rule).
    *
    * Scale: one min/max/count aggregate, one narrow bucket map, one
    * |grid|-row histogram; the unpartitioned running-sum window sorts
    * `grid` rows (bounded by the caller's literal, like
    * [[epochAllocation]]'s |weights| window), and the bucket→band map
    * broadcasts back. The corpus itself never sorts — contrast the
    * naive global `ntile`, which funnels every row through one task.
    */
  def curriculumBands(
      df: DataFrame, idCol: String, scoreCol: String,
      bands: Int = 10, grid: Int = 1024): DataFrame = {
    require(bands >= 2, s"bands must be >= 2, got $bands")
    require(grid >= bands, s"grid must be >= bands, got grid=$grid bands=$bands")
    // the running-sum window sorts |grid| rows — keep the caller's
    // literal inside summary size (static contract, like epochAllocation)
    require(grid <= 10000000,
      s"curriculumBands: grid=$grid exceeds the 1e7 summary-window bound")
    import org.apache.spark.sql.expressions.Window
    val id = graft.ops.Cleaning.qcol(idCol)
    val s = graft.ops.Cleaning.qcol(scoreCol).cast("long")
    val scored = df.select(id, s.as("__s")).filter(col("__s").isNotNull)
    val ext = scored.agg(min("__s").as("__lo"), max("__s").as("__hi"),
      count(lit(1)).as("__n"))
    // step >= 1 keeps every bucket inside [0, grid); all arithmetic is
    // on non-negative longs, where div (truncate) == floor on BOTH
    // engines — the negative-division semantics trap never arises
    val bucketed = scored.crossJoin(broadcast(ext))
      .withColumn("__b", expr(s"(__s - __lo) div (((__hi - __lo) div $grid) + 1)"))
    val hist = bucketed.groupBy("__b").agg(count(lit(1)).as("__c"))
    val w = Window.orderBy(asc("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mapping = hist
      .withColumn("__below", sum(col("__c")).over(w) - col("__c"))
      .crossJoin(broadcast(ext.select(col("__n"))))
      .withColumn("band",
        least(lit((bands - 1).toLong), expr(s"(__below * $bands) div __n")))
      .select(col("__b"), col("band"))
    bucketed.join(broadcast(mapping), Seq("__b"))
      .select(id, col("__s").as(scoreCol), col("band"))
  }

  /** Materialize an [[epochAllocation]] into the repeated-document
    * manifest a training run actually reads: every document of a
    * source allocated e epochs appears `floor(e)` times, plus one more
    * copy when its portable per-key uniform falls below the fractional
    * part — so a 1.8-epoch source repeats every doc once and ~80% of
    * docs twice, deterministically (same affine-hash uniform as every
    * sampler here: re-runs, partitionings, and engines agree on WHICH
    * docs carry the fractional copy). Output: the id/source pair plus
    * a 0-based `epoch` copy index; sources absent from the allocation
    * (or at 0 epochs) emit nothing.
    *
    * Scale: the allocation is a |sources|-row broadcast; expansion is
    * a narrow per-row `sequence`/explode — output rows ∝ Σ tokens·e,
    * exactly the training volume the budget bought, with no shuffle.
    */
  def expandEpochs(
      df: DataFrame, keyCol: String, sourceCol: String,
      allocation: DataFrame): DataFrame = {
    val src = graft.ops.Cleaning.qcol(sourceCol).cast("string")
    val u = PortableHash.affineUniform(graft.ops.Cleaning.qcol(keyCol))
    val alloc = allocation.select(col("source").as("__s"), col("epochs"))
    val outCols = df.columns.map(graft.ops.Cleaning.qcol)
    df.join(broadcast(alloc), src <=> col("__s"), "inner")
      .withColumn("__full", floor(col("epochs")).cast("long"))
      .withColumn("__n", col("__full") +
        when(u < col("epochs") - floor(col("epochs")).cast("double"), lit(1L))
          .otherwise(lit(0L)))
      .filter(col("__n") > 0)
      .select(outCols :+ explode(sequence(lit(0L), col("__n") - 1)).as("epoch"): _*)
  }

  /** Deterministic train/val/test split assignment: every row gets a
    * named split label by comparing its portable per-key uniform (the
    * same affine hash mod 1000003 as [[byWeight]] /
    * [[sampleByTokenBudget]]) against cumulative fraction thresholds,
    * in the given order. Fractions must sum to 1; the last split takes
    * the tail unconditionally, so no row can fall through. Pure narrow
    * map — reproducible across re-runs, partitionings, and engines,
    * which is exactly what a train/eval split must be (a
    * nondeterministic split leaks eval rows into training on re-runs).
    *
    * The thresholds are the Scala-computed cumulative doubles; an
    * oracle must embed those exact values (0.8 + 0.1 != 0.9 in IEEE —
    * re-deriving the sums in another engine agrees only if summed in
    * the same order, which the generated SQL does by construction).
    */
  def splitAssign(
      df: DataFrame, keyCol: String, splits: Seq[(String, Double)],
      outCol: String = "split"): DataFrame = {
    validateSplits(splits)
    requireIntegralKey(df, keyCol, "splitAssign",
      "a non-numeric key casts to null and would silently land every row in the last split")
    val u = PortableHash.affineUniform(graft.ops.Cleaning.qcol(keyCol))
    df.withColumn(outCol, assignByUniform(u, splits))
  }

  /** Group-aware (leakage-safe) split: every row of a GROUP lands in
    * the SAME split — the guard against eval leakage when rows within a
    * group are correlated (all pages of a domain, all near-dups of a
    * cluster, all turns of a conversation): a row-level split would
    * scatter near-identical rows across train AND eval. The group key
    * is hashed with the engine-portable 31-base polynomial
    * (cf. [[TextAnalysis.portableFingerprint]] — oracle-checkable,
    * unlike xxhash64) and the hash feeds the same affine-mod-P uniform
    * as [[splitAssign]]. Null groups are one group (hash of "").
    *
    * Split FRACTIONS apply to groups, not rows: a heavy group carries
    * its whole mass into one split, so realized row fractions track
    * the requested ones only as groups stay small relative to the
    * corpus — the price of leakage-safety, by design.
    */
  def splitAssignGrouped(
      df: DataFrame, groupCol: String, splits: Seq[(String, Double)],
      outCol: String = "split"): DataFrame = {
    validateSplits(splits)
    val g = graft.ops.Cleaning.qcol(groupCol).cast("string")
    val u = PortableHash.affineUniform(PortableHash.polyHash31(coalesce(g, lit(""))))
    df.withColumn(outCol, assignByUniform(u, splits))
  }

  /** Guard for every operator whose key feeds `cast("long")` hash
    * arithmetic: a non-integral key casts to NULL silently, which
    * corrupts the result instead of erroring — each caller states its
    * own failure mode. */
  private def requireIntegralKey(
      df: DataFrame, keyCol: String, op: String, consequence: String): Unit = {
    val t = df.schema(keyCol).dataType.typeName
    require(Seq("byte", "short", "integer", "long").contains(t),
      s"$op needs an integral key column; '$keyCol' is $t — $consequence")
  }

  private def validateSplits(splits: Seq[(String, Double)]): Unit = {
    require(splits.size >= 2, s"need at least two splits, got ${splits.size}")
    require(splits.forall(_._2 >= 0), "split fractions must be >= 0")
    require(splits.map(_._1).distinct.size == splits.size, "split names must be distinct")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9, s"split fractions must sum to 1, got $total")
  }

  /** Threshold fold shared by the split assigners: first match on the
    * cumulative cuts wins; the last split takes the tail
    * unconditionally so no row can fall through. */
  private def assignByUniform(u: Column, splits: Seq[(String, Double)]): Column = {
    val cuts = splitCuts(splits)
    val first = when(u < cuts.head, lit(splits.head._1))
    splits.tail.init.zip(cuts.tail.init).foldLeft(first) {
      case (acc, ((name, _), cut)) => acc.when(u < cut, lit(name))
    }.otherwise(lit(splits.last._1))
  }

  /** The cumulative thresholds [[splitAssign]] compares against —
    * exposed so an oracle can embed the IDENTICAL doubles. */
  def splitCuts(splits: Seq[(String, Double)]): Seq[Double] =
    splits.map(_._2).scanLeft(0.0)(_ + _).tail

  /** Deterministic global shuffle for training: every row gets a
    * reproducible pseudorandom (shard, pos) — the permutation a
    * trainer's data loader consumes. shard = affine hash of the key
    * (seeded, mod the prime 1000003 — engine-portable, products stay
    * far under the ANSI overflow line); pos = rank within the shard on
    * (hash, key).
    *
    * Scale: NO global sort anywhere. Rows hash into shards (one
    * shuffle on the shard key) and each shard orders independently — a
    * window PARTITIONED BY shard, the same never-global-window contract
    * as packSequences. Reading shards in order then yields a stable,
    * seed-reproducible permutation of the corpus; changing the seed
    * permutes both shard membership and within-shard order.
    *
    * Size `shards` to the cluster: each shard sorts in one task, so
    * use enough shards that a shard's rows fit a task comfortably
    * (100 TB → O(10⁵) shards, not 8; parallelism == shards).
    */
  def shuffleDeterministic(
      df: DataFrame, keyCol: String, shards: Int, seed: Long = 42L): DataFrame = {
    require(shards > 0, s"shards must be > 0, got $shards")
    val P = PortableHash.P
    val keyRaw = graft.ops.Cleaning.qcol(keyCol)
    val isIntegral = df.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // integral keys: the engine-portable affine hash mod P (the DuckDB
    // oracle mirrors it). Anything else (string/UUID ids): xxhash64 of
    // the key — a silent cast("long") would null the hash and collapse
    // every row into one nondeterministic null shard. Still
    // deterministic and partitioning-invariant, just not SQL-mirrorable.
    // Seed folded mod P up front: the affine sum then stays < 2^40 for
    // ANY Long seed (ANSI overflow-safe).
    val h =
      if (isIntegral) PortableHash.affineHash(keyRaw, seed)
      else pmod(xxhash64(keyRaw, lit(seed)), lit(P))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__h"), keyRaw)
    df.withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(shards.toLong)))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("__h")
  }

  /** Deterministic k-per-group sample: the k keys with the largest
    * portable hash in each group — uniform-without-replacement,
    * reproducible across runs, partitionings, and engines. The hash is
    * a CRT pair of seeded affine hashes mod two ~2³⁰ primes combined
    * as h1·P2 + h2: injective for key spaces below P1·P2 ≈ 1.2·10¹⁸
    * (a single small prime would alias keys mod P, degenerating the
    * "top k by hash" into the smallest keys of the top residue classes
    * once groups outgrow P), and every product stays < 2⁶³ under ANSI.
    * BOUNDED state via the BoundedTopK aggregate: the partial phase
    * keeps ≤ k candidates per group per partition, so sampling 10 of
    * each group from 10¹² rows shuffles groups × k rows — the window
    * row_number formulation shuffles every row first.
    * Output: (groupCols..., keyCol), exploded back to rows.
    */
  def sampleKPerGroup(
      df: DataFrame, groupCols: Seq[String], keyCol: String, k: Int,
      seed: Long = 42L): DataFrame = {
    require(groupCols.nonEmpty, "sampleKPerGroup needs at least one group column")
    val P1 = 1073741789L
    val P2 = 1073741783L
    val key = graft.ops.Cleaning.qcol(keyCol).cast("long")
    // the seed picks the hash MULTIPLIERS (any non-zero works mod a
    // prime): an additive seed only shifts hashes, which near-preserves
    // a top-k-by-hash ordering — different seeds would return almost
    // the same sample. seed 42 → a1 = 514272, a2 = 741146 (the
    // oracle's literals).
    val a1 = 1L + java.lang.Math.floorMod(514229L + seed, P1 - 1)
    val a2 = 1L + java.lang.Math.floorMod(741103L + seed, P2 - 1)
    val h1 = pmod(pmod(key, lit(P1)) * lit(a1), lit(P1))
    val h2 = pmod(pmod(key, lit(P2)) * lit(a2), lit(P2))
    val h = h1 * lit(P2) + h2
    df.groupBy(groupCols.map(graft.ops.Cleaning.qcol): _*)
      .agg(graft.functions.Aggregates.topKByWeight(key, h, k).as("__top__"))
      .select((groupCols.map(graft.ops.Cleaning.qcol) :+
        explode(col("__top__")).as("__t__")): _*)
      .select((groupCols.map(graft.ops.Cleaning.qcol) :+
        col("__t__.value").as(keyCol)): _*)
  }

  /** Keep the k BEST rows of every group by a score column — the
    * curation move "cap each domain/language at its k highest-quality
    * documents". Ordering is (score desc, id asc), so ties are
    * deterministic; null scores never win (filtered up front — a null
    * beating a real score would be a silent quality inversion).
    * Output: (groupCols…, idCol, weightCol) — re-join by id for full
    * rows.
    *
    * BOUNDED state via the BoundedTopKDouble aggregate (cf.
    * [[sampleKPerGroup]]): partial phase keeps ≤ k candidates per group
    * per partition and the shuffle carries groups × k rows — the
    * row_number window formulation shuffles and sorts EVERY scored row
    * first, the per-group funnel that dies at 100 TB.
    */
  def keepBestKPerGroup(
      df: DataFrame, groupCols: Seq[String], idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(groupCols.nonEmpty, "keepBestKPerGroup needs at least one group column")
    require(k > 0, s"k must be > 0, got $k")
    requireIntegralKey(df, idCol, "keepBestKPerGroup",
      "every id would cast to null and the aggregate would silently emit zero rows")
    val groups = groupCols.map(graft.ops.Cleaning.qcol)
    val w = graft.ops.Cleaning.qcol(weightCol).cast("double")
    df.filter(w.isNotNull)
      .groupBy(groups: _*)
      .agg(graft.functions.Aggregates.topKByDoubleWeight(
        graft.ops.Cleaning.qcol(idCol).cast("long"), w, k, ascending = false).as("__top__"))
      .select(groups :+ explode(col("__top__")).as("__t__"): _*)
      .select(groups :+ col("__t__.value").as(idCol) :+ col("__t__.weight").as(weightCol): _*)
  }

  /** DSIR-shaped importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): pull
    * the n corpus documents that look most like a TARGET domain, with
    * randomness, by Gumbel top-n over the importance log-ratio
    * log p_target(doc) − log p_corpus(doc). Both densities are the
    * repo's deterministic unigram LM
    * ([[TextAnalysis.unigramLogProbTable]] — DSIR's hashed-ngram bag
    * reduced to the variant every step of which a SQL oracle can
    * replay); the per-doc score is the MEAN token log-prob, so the
    * ratio is length-neutral. Selection key = logratio + Gumbel(u),
    * u the portable affine uniform shifted to (0, 1) — the standard
    * Gumbel-max reparameterization of sampling-without-replacement
    * ∝ exp(logratio), made reproducible across runs, partitionings,
    * and engines; the key rounds half-up to 9 dp and ties break by id.
    *
    * Docs with no tokens score under neither model and are excluded.
    * Output: (idCol, logratio, skey), the n selected docs.
    *
    * Scale: two broadcast-model scoring passes (each one explode +
    * (doc, token) agg against a V-row broadcast model), an id-keyed
    * join of two summary frames, then a narrow key map into a global
    * TakeOrdered(n) — no corpus-wide sort, no per-group windows.
    */
  def importanceResample(
      df: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      n: Int, vocabSize: Int = 1000): DataFrame = {
    require(n > 0, s"n must be > 0, got $n")
    requireIntegralKey(df, idCol, "importanceResample",
      "every Gumbel key would be null and the selection would silently become 'first n ids'")
    val id = graft.ops.Cleaning.qcol(idCol)
    // r15 (guide §2.3, aggregate-before-shuffle): both densities score
    // the SAME per-doc token counts — one explode + (doc, token) agg
    // joined against BOTH broadcast models, instead of two full
    // unigramLogProbTable passes over the corpus. The per-model integer
    // fold (Σ __n·logp6) and the avg_logp double expression are the
    // exact shapes of the one-model path, so __lt/__lr are bit-identical
    // to the unfused form; 0-token docs have no row here, exactly the
    // rows the unfused form's isNotNull filter dropped.
    val (vt, ot) = TextAnalysis.unigramModel(target, targetTextCol, vocabSize)
    val (vr, or_) = TextAnalysis.unigramModel(df, textCol, vocabSize)
    val docToks = TextAnalysis.docTokenCounts(df, idCol, textCol)
    val scored = docToks
      .join(broadcast(vt.withColumnRenamed("__logp6", "__lt6")), Seq("__tok"), "left")
      .join(broadcast(vr.withColumnRenamed("__logp6", "__lr6")), Seq("__tok"), "left")
      .crossJoin(broadcast(ot.withColumnRenamed("__oov6", "__ot6")))
      .crossJoin(broadcast(or_.withColumnRenamed("__oov6", "__or6")))
      .groupBy(id).agg(
        sum(col("__n")).as("n_tokens"),
        sum(col("__n") * coalesce(col("__lt6"), col("__ot6"))).as("__st"),
        sum(col("__n") * coalesce(col("__lr6"), col("__or6"))).as("__sr"))
    def avg(s: org.apache.spark.sql.Column) = graft.ops.Rounding.halfUp(
      s.cast("double") / 1000000L / col("n_tokens"), 9)
    // u strictly inside (0, 1): the +0.5 shift keeps ln(ln(u)) finite
    // at both ends of the affine-hash range (u = 0 would send the
    // one-in-a-million key with hash 0 to -inf, silently unselectable)
    val u = (PortableHash.affineHash(id).cast("double") + lit(0.5)) /
      lit(PortableHash.P).cast("double")
    val g = -log(-log(u))
    scored
      .select(id, avg(col("__st")).as("__lt"), avg(col("__sr")).as("__lr"))
      .filter(col("__lt").isNotNull && col("__lr").isNotNull)
      .withColumn("logratio", col("__lt") - col("__lr"))
      .withColumn("skey",
        floor((col("logratio") + g) * 1000000000.0 + lit(0.5)) / 1000000000.0)
      .orderBy(desc("skey"), id)
      .limit(n)
      .select(id, col("logratio"), col("skey"))
  }

  /** Per-group quality floor: DROP the bottom `frac` fraction of every
    * group by a score column — the curation counterpart of
    * [[keepBestKPerGroup]] when the budget is relative ("drop each
    * source's worst 20%") rather than absolute. Rank-based, so it is
    * exact and engine-portable with NO score arithmetic: rows rank by
    * (score asc NULLS FIRST, id asc) within their group and the lowest
    * floor(frac · n) ranks drop — null scores count as worst and go
    * first (an unscorable document must not survive a quality floor).
    *
    * Scale: one group-partitioned window exchange shared by the rank
    * and the group count — never a global sort; groups must fit a
    * task's sort (the same contract as every per-group exact
    * quantile here, cf. `s3_wquantile`'s scaladoc — swap to the
    * mergeable quantile sketch for a threshold-based variant past
    * that).
    */
  def dropBottomFractionPerGroup(
      df: DataFrame, groupCols: Seq[String], idCol: String, scoreCol: String,
      frac: Double): DataFrame = {
    require(groupCols.nonEmpty, "dropBottomFractionPerGroup needs at least one group column")
    require(frac >= 0 && frac < 1, s"frac must be in [0,1), got $frac")
    import org.apache.spark.sql.expressions.Window
    val groups = groupCols.map(graft.ops.Cleaning.qcol)
    val wRank = Window.partitionBy(groups: _*)
      .orderBy(asc_nulls_first(scoreCol), asc(idCol))
    val wGrp = Window.partitionBy(groups: _*)
    df.withColumn("__rk", row_number().over(wRank))
      .withColumn("__n", count(lit(1)).over(wGrp))
      .filter(col("__rk") > floor(lit(frac) * col("__n").cast("double")))
      .drop("__rk", "__n")
  }

  /** Token-budgeted selection per group — the "fill each source's
    * token budget with its best documents" mixture primitive (the
    * operation that turns "we want 500B tokens at these source
    * weights" into a concrete document set): rank each group by
    * (score desc, id asc), admit documents while the RUNNING token sum
    * (including the current document) stays within `tokenBudget`.
    * Greedy prefix-by-quality — deterministic, and the admitted set is
    * exactly the best documents that fit. Null scores rank last (only
    * admitted if budget remains after every scored document). Output:
    * the surviving rows + `cum_tokens` (the running sum at admission,
    * for shard-planning audits).
    *
    * Scale: one group-partitioned window exchange shared by the rank
    * and the running sum — never global; groups must fit a task's sort
    * (the per-group exact-quantile contract, cf. `s3_wquantile`); past
    * that, swap to a quantile-sketch score threshold per group and
    * accept the approximate cut.
    */
  def takeTokensPerGroup(
      df: DataFrame, groupCols: Seq[String], idCol: String, scoreCol: String,
      tokenCol: String, tokenBudget: Long): DataFrame = {
    require(groupCols.nonEmpty, "takeTokensPerGroup needs at least one group column")
    require(tokenBudget > 0, s"tokenBudget must be > 0, got $tokenBudget")
    import org.apache.spark.sql.expressions.Window
    val groups = groupCols.map(graft.ops.Cleaning.qcol)
    val w = Window.partitionBy(groups: _*)
      .orderBy(desc_nulls_last(scoreCol), asc(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens",
        sum(graft.ops.Cleaning.qcol(tokenCol)).over(w))
      .filter(col("cum_tokens") <= tokenBudget)
  }

  /** Stratified systematic sampling: an independent systematic sample
    * within every stratum, with per-stratum modulus (sampling rate).
    * Strata missing from `mods` fall back to `defaultMod`.
    */
  def stratifiedSystematic(
      df: DataFrame, strataCol: String, keyCol: String,
      mods: Map[String, Long], defaultMod: Long): DataFrame = {
    val s = graft.ops.Cleaning.qcol(strataCol).cast("string")
    val modExpr = mods.foldLeft(lit(defaultMod)) { case (acc, (k, m)) =>
      when(s === k, lit(m)).otherwise(acc)
    }
    df.filter(pmod(graft.ops.Cleaning.qcol(keyCol).cast("long"), modExpr) === 0)
  }

  /** Seeded RANDOM negative sampling for contrastive / reward-model
    * pairs — the unbiased complement of
    * [[graft.scale.Similarity.hardNegatives]] (the standard recipe
    * mixes ~1 hard : k random): per anchor, up to `k` candidates with
    * a DIFFERENT label, drawn deterministically. Candidates hash into
    * `nBuckets` buckets; each (bucket, label) elects ONE representative
    * (min seeded hash, id tiebreak); each anchor's draw j picks a
    * seeded bucket and takes the minimum-key representative whose
    * label differs. Representatives are shared across anchors drawing
    * the same bucket — the in-batch-negatives convention, documented
    * rather than hidden. A draw whose bucket holds no foreign-label
    * representative yields nothing, so `k` is the ATTEMPT count
    * (near-k in practice once nBuckets ≫ |labels|).
    *
    * Determinism: every choice is the portable hash chain (poly fold →
    * affine → pmod) with U+001F domain separation, packed-long argmin
    * (hash·2³¹ + id, so ties break to the smallest id) — replayable by
    * the oracle, stable across runs/partitionings. Candidate and
    * anchor ids must sit in [0, 2³¹) for the packing (the
    * semanticContamination contract); NULL ids/labels are dropped.
    * Candidate ids must be label-UNIQUE: duplicate (id, label) rows
    * dedupe harmlessly in an id-keyed prepass, but one id carrying
    * TWO different labels would pack to the same key and fan a single
    * (anchor, draw) into multiple rows — that conflict raises in-plan
    * rather than silently multiplying draws.
    *
    * Output: (anchor_id, draw, neg_id, neg_label).
    *
    * Scale: representatives = ONE corpus hash aggregate to ≤
    * nBuckets·|labels| rows (broadcastable by construction); anchors
    * explode ×k and broadcast-join the representative table — the
    * corpus never reshuffles per anchor, and no anchor ever scans the
    * candidate pool.
    */
  def randomNegatives(
      anchors: DataFrame, anchorIdCol: String, anchorLabelCol: String,
      candidates: DataFrame, candIdCol: String, candLabelCol: String,
      k: Int, nBuckets: Int = 1024, salt: String = ""): DataFrame = {
    require(k >= 1, s"randomNegatives: k must be >= 1, got $k")
    require(nBuckets >= 2, s"randomNegatives: nBuckets must be >= 2, got $nBuckets")
    val aid = graft.ops.Cleaning.qcol(anchorIdCol)
    val alab = graft.ops.Cleaning.qcol(anchorLabelCol)
    val cid = graft.ops.Cleaning.qcol(candIdCol)
    val clab = graft.ops.Cleaning.qcol(candLabelCol)
    import graft.functions.PortableHash._
    val Pack = 2147483648L // 2^31
    val repHash = affineHash(polyHash31(
      concat(cid.cast("string"), lit("\u001f"), lit(salt), lit("\u001f"),
        lit("negrep"))))
    // the id-range guard rides IN-PLAN inside the consumed packed key:
    // an id outside [0, 2^31) would silently corrupt the argmin
    val packed = when(cid.cast("long") < 0L || cid.cast("long") >= Pack,
      raise_error(concat(lit("randomNegatives: candidate id outside [0, 2^31): "),
        cid.cast("string"))).cast("long"))
      .otherwise(repHash * Pack + cid.cast("long"))
    // id-keyed prepass: duplicate (id, label) rows collapse; an id
    // carrying two DIFFERENT labels raises (the guard rides inside the
    // consumed __rk so it survives optimization) — without it two
    // labels would share one packed key and fan draws out downstream
    val byId = candidates.filter(cid.isNotNull && clab.isNotNull)
      .select(cid.as("__cid"), clab.as("neg_label"), packed.as("__pk"))
      .groupBy(col("__cid"))
      .agg(min(col("neg_label")).as("neg_label"),
        countDistinct(col("neg_label")).as("__nl"),
        min(col("__pk")).as("__pk"))
      .select(col("neg_label"),
        when(col("__nl") > 1L,
          raise_error(concat(
            lit("randomNegatives: candidate id with conflicting labels: "),
            col("__cid").cast("string"))).cast("long"))
          .otherwise(col("__pk")).as("__pk"),
        col("__cid"))
    val reps = byId
      .select(pmod(affineHash(col("__cid").cast("long")),
          lit(nBuckets.toLong)).as("__bkt"),
        col("neg_label"),
        col("__pk").as("__rk"))
      .groupBy(col("__bkt"), col("neg_label"))
      .agg(min(col("__rk")).as("__rk"))
    val draws = anchors.filter(aid.isNotNull && alab.isNotNull)
      .select(aid.as("anchor_id"), alab.as("__alab"),
        explode(sequence(lit(0L), lit(k - 1L))).as("draw"))
      .withColumn("__bkt", pmod(affineHash(polyHash31(
        concat(col("anchor_id").cast("string"), lit("\u001f"), lit(salt),
          lit("\u001f"), col("draw").cast("string")))), lit(nBuckets.toLong)))
    // packed keys are unique per rep (the id rides in the low bits), so
    // min(__rk) IS the argmin; the label joins back over the tiny rep
    // table — no struct-min (engine orderings differ)
    val best = draws.join(broadcast(reps), Seq("__bkt"))
      .filter(!(col("neg_label") <=> col("__alab")))
      .groupBy(col("anchor_id"), col("draw"))
      .agg(min(col("__rk")).as("__rk"))
    best.join(broadcast(reps.select(col("__rk"), col("neg_label")).distinct()),
        Seq("__rk"))
      .select(col("anchor_id"), col("draw"),
        pmod(col("__rk"), lit(Pack)).as("neg_id"), col("neg_label"))
  }
}
