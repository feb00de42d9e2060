package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Disclosure-control operators for releasing survey microdata
  * (beyond-reference): k-anonymity over quasi-identifier combinations.
  * A respondent is re-identifiable when their quasi-identifier combo
  * (age band × region × segment…) is shared by fewer than k rows.
  *
  * Scale: one hash aggregate on the quasi-identifier tuple; suppression
  * is a broadcast anti-join against the (small) risky-combo list.
  */
object Privacy {

  /** Quasi-identifier combos with fewer than `k` rows — the cells a
    * disclosure review must suppress or coarsen. */
  def kAnonymityRisk(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k > 0, "need quasi columns and k > 0")
    df.groupBy(quasiCols.map(Cleaning.qcol): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }

  /** One-row release audit: total combos, risky combos, rows at risk,
    * and the smallest cell size. */
  def kAnonymitySummary(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame =
    df.groupBy(quasiCols.map(Cleaning.qcol): _*)
      .agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_groups"),
        coalesce(sum(when(col("n") < k, 1L)), lit(0L)).as("n_risky"),
        coalesce(sum(when(col("n") < k, col("n"))), lit(0L)).as("rows_at_risk"),
        min(col("n")).as("min_cell"))

  /** One-row distinct-l-diversity release audit (the
    * [[kAnonymitySummary]] companion) — k-anonymity's blind spot: a cell
    * can hold 30 rows (k-safe) where every row shares the SAME sensitive
    * value, so membership alone discloses it. A quasi-identifier combo
    * is risky when its sensitive attribute takes fewer than `l`
    * distinct non-null values (an only-null cell has diversity 0 and
    * still flags). Output: total combos, low-diversity combos, rows at
    * risk, and the smallest diversity seen. */
  def lDiversitySummary(
      df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      l: Long): DataFrame =
    df.groupBy(quasiCols.map(Cleaning.qcol): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(Cleaning.qcol(sensitiveCol)).as("l_distinct"))
      .agg(
        count(lit(1)).as("n_groups"),
        coalesce(sum(when(col("l_distinct") < l, 1L)), lit(0L)).as("n_risky"),
        coalesce(sum(when(col("l_distinct") < l, col("n"))), lit(0L)).as("rows_at_risk"),
        min(col("l_distinct")).as("min_l"))

  /** Suppression: drop every row whose quasi-identifier combo is risky —
    * the released table is k-anonymous by construction.
    *
    * The anti-join is NULL-SAFE (`<=>` per column): kAnonymityRisk groups
    * nulls as ordinary values, so a risky combo containing a missing
    * age/region must still match — plain equality would never match it
    * and would silently release the risky rows. */
  def suppress(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    val risky = kAnonymityRisk(df, quasiCols, k)
      .select(quasiCols.map(c => Cleaning.qcol(c).as(s"__r_$c")): _*)
    val cond = quasiCols.map(c => Cleaning.qcol(c) <=> col(s"__r_$c")).reduce(_ && _)
    df.join(broadcast(risky), cond, "left_anti")
  }

  /** t-closeness release audit — l-diversity's blind spot: a cell can
    * hold 3+ DISTINCT sensitive values (l-safe) whose distribution
    * still differs sharply from the population's (e.g. all three in
    * the lowest income band), so cell membership shifts an attacker's
    * posterior. A cell is risky when the Earth Mover's Distance
    * between its sensitive-value band distribution and the global one
    * exceeds `t`. For the ordered bands used here, EMD is the mean
    * absolute cumulative-share gap: Σ_b |CumP_cell(b) − CumP_global(b)|
    * / (nbins − 1).
    *
    * Determinism: bands come from the fixed [lo, hi) clamp grid (the
    * histogram convention); cumulative counts are exact integer
    * window sums over a DENSE cell×band grid (missing bands
    * materialized at 0, so both engines cumulate the same lattice);
    * the per-cell EMD numerator is the exact integer cross-multiply
    * Σ|cnc·N − cng·n_c| (the [[graft.ops.Stats.ksDrift]] trick — no
    * double accumulates), divided once and halfUp-6.
    *
    * Scale: one hash aggregate to |cells|·nbins rows, a broadcast
    * band grid, and a window PARTITIONED by cell with a ≤ nbins frame
    * — nothing corpus-wide moves. Numerator bound: cnc·N ≤ n_cell·N
    * < 2⁶³ holds past 10⁹ rows with 10⁷-row cells.
    * Output: one audit row (n_cells, n_risky, rows_at_risk, max_t).
    */
  def tClosenessSummary(
      df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      lo: Double, hi: Double, nbins: Int = 10, t: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(quasiCols.nonEmpty && nbins > 1 && hi > lo && t > 0,
      "need quasi columns, nbins > 1, hi > lo, t > 0")
    val v = Cleaning.toNumeric(Cleaning.qcol(sensitiveCol))
    val raw = floor((v - lo) / (hi - lo) * nbins)
    val band = greatest(lit(0.0), least(lit((nbins - 1).toDouble), raw)).cast("int")
    val cellBand = df.filter(v.isNotNull && !isnan(v))
      .groupBy(quasiCols.map(Cleaning.qcol) :+ band.as("__band"): _*)
      .agg(count(lit(1)).as("__nb"))
    val cells = cellBand.groupBy(quasiCols.map(Cleaning.qcol): _*)
      .agg(sum(col("__nb")).as("__nc"))
    val gBand = cellBand.groupBy(col("__band")).agg(sum(col("__nb")).as("__ngb"))
    val gTot = gBand.agg(coalesce(sum(col("__ngb")), lit(0L)).as("__ng"))
    val bands = df.sparkSession.range(nbins)
      .select(col("id").cast("int").as("__band"))
    val grid = cells.crossJoin(broadcast(bands))
      .join(cellBand, quasiCols :+ "__band", "left")
      .na.fill(0L, Seq("__nb"))
      .join(broadcast(gBand), Seq("__band"), "left")
      .na.fill(0L, Seq("__ngb"))
    val win = Window.partitionBy(quasiCols.map(Cleaning.qcol): _*)
      .orderBy(col("__band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val emdT = Rounding.halfUp(
      col("__num").cast("double") /
        (col("__nc").cast("double") * col("__ng").cast("double") *
          lit((nbins - 1).toDouble)), 6)
    grid
      .withColumn("__cnc", sum(col("__nb")).over(win))
      .withColumn("__cng", sum(col("__ngb")).over(win))
      .crossJoin(broadcast(gTot))
      .groupBy(quasiCols.map(Cleaning.qcol): _*)
      .agg(max(col("__nc")).as("__nc"), max(col("__ng")).as("__ng"),
        sum(abs(col("__cnc") * col("__ng") - col("__cng") * col("__nc")))
          .as("__num"))
      .select(col("__nc"), emdT.as("__t"))
      .agg(
        count(lit(1)).as("n_cells"),
        coalesce(sum(when(col("__t") > t, 1L)), lit(0L)).as("n_risky"),
        coalesce(sum(when(col("__t") > t, col("__nc"))), lit(0L))
          .as("rows_at_risk"),
        max(col("__t")).as("max_t"))
  }

  /** Laplace-noised release counts — the differential-privacy
    * mechanism's data path: per-group counts plus Laplace(1/ε) noise
    * (sensitivity 1 for a count query), emitted in micro units beside
    * the noise scale so a release pipeline can drop the true count.
    *
    * THE NOISE HERE IS SEEDED, NOT SECURE: u derives from the portable
    * group-key hash ([[graft.functions.PortableHash]]), which makes the
    * output reproducible across runs/engines — the property every
    * oracle-gated operator in this repo needs, and exactly the property
    * a real DP release must NOT have. Production swaps `uniformCol`
    * for a secure RNG draw; everything else (inverse-CDF transform,
    * scale, rounding) is the shipping arithmetic. The same
    * testability-over-secrecy trade the deterministic corpus shuffle
    * documents.
    *
    * Inverse CDF: u ∈ (0,1), c = u − ½,
    * noise = −(1/ε)·sgn(c)·ln(1 − 2|c|); the single `ln` per GROUP is
    * micro-rounded with `floor(x·1e6 + 0.5)` (floor, not integer div —
    * identical for negatives in every engine; the slice-entropy
    * precedent).
    *
    * `releaseSalt` folds a release identifier into the seeded hash so
    * REPEATED releases of the same groups draw fresh (still
    * replayable) noise — without it even the deterministic design
    * couldn't model the multiple-release accounting a real DP pipeline
    * needs (identical noise across releases would make re-release
    * free, which is exactly wrong: each distinct salt is a fresh
    * ε-spend, and the privacy ledger must SUM ε across salts — the
    * sequential-composition rule; that ledger is the caller's, this
    * operator only guarantees fresh draws per salt). The default ""
    * is the canonical single-release form.
    *
    * Scale: ONE hash aggregate to |groups| rows, then row-local
    * arithmetic — the noise costs one hash and one log per group, not
    * per row.
    */
  def dpNoisyCounts(
      df: DataFrame, groupCol: String, epsilonMicro: Long = 500000L,
      releaseSalt: String = ""): DataFrame = {
    require(epsilonMicro > 0, "dpNoisyCounts: epsilonMicro must be positive")
    val b: Double = 1000000.0 / epsilonMicro  // 1/epsilon, the Laplace scale
    val g = Cleaning.qcol(groupCol)
    val counts = df.filter(g.isNotNull)
      .groupBy(g).agg(count(lit(1)).as("n"))
    // Domain-separate group and salt with U+001F (unit separator) so
    // crafted names can't alias two releases onto one draw: without it
    // (group="a", salt="b2") and (group="ab", salt="2") hash the same
    // concatenation and replay identical noise, silently voiding the
    // fresh-draw-per-salt composition guarantee. U+001F is a control
    // char no group name carries, and its codepoint (31) folds
    // identically through ascii()/unicode() on both engines.
    val h = graft.functions.PortableHash.affineHash(
      graft.functions.PortableHash.polyHash31(
        concat(g.cast("string"), lit("\u001f"), lit(releaseSalt))))
    val u = (h.cast("double") + lit(0.5)) / lit(graft.functions.PortableHash.P.toDouble)
    val c = u - lit(0.5)
    val noise = -lit(b) * signum(c) * log(lit(1.0) - lit(2.0) * abs(c))
    counts
      .withColumn("noise_micro", floor(noise * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("noisy_count_micro", col("n") * lit(1000000L) + col("noise_micro"))
      .withColumn("epsilon_micro", lit(epsilonMicro))
      .select(g.as("group"), col("n"), col("noise_micro"),
        col("noisy_count_micro"), col("epsilon_micro"))
  }

  /** The seeded Laplace draw shared by every release mechanism: hash
    * the domain-separated (key, salt, component) triple to a centered
    * uniform, inverse-CDF to Laplace(b), floor-micro-round. The
    * `component` tag domain-separates the MULTIPLE draws one release
    * makes (sum vs count) the same way U+001F separates key from salt. */
  private def laplaceNoiseMicro(
      key: Column, releaseSalt: String, component: String,
      b: Double): Column = {
    val h = graft.functions.PortableHash.affineHash(
      graft.functions.PortableHash.polyHash31(
        concat(key.cast("string"), lit("\u001f"), lit(releaseSalt),
          lit("\u001f"), lit(component))))
    val u = (h.cast("double") + lit(0.5)) / lit(graft.functions.PortableHash.P.toDouble)
    val c = u - lit(0.5)
    val noise = -lit(b) * signum(c) * log(lit(1.0) - lit(2.0) * abs(c))
    floor(noise * lit(1000000.0) + lit(0.5)).cast("long")
  }

  /** Laplace-noised release MEANS — the second release mechanism a DP
    * pipeline ships after counts: per-group mean of a value CLAMPED to
    * the caller's [lo, hi] micro bounds, released as
    * noisy_sum / noisy_count with the epsilon budget SPLIT evenly
    * between the two draws (sequential composition inside one
    * release: each half-spend uses Laplace(sensitivity/(ε/2))). The
    * clamp is what bounds the sum's sensitivity at
    * max(|lo|, |hi|) — an unclamped mean has unbounded sensitivity
    * and no finite noise scale.
    *
    * Seeding contract identical to [[dpNoisyCounts]] (replayable by
    * design, NOT secure — production swaps the hash for a secure RNG):
    * the sum and count draws are domain-separated components of the
    * same (group, salt) seed, so one release's two draws are
    * independent AND two releases under distinct salts are fresh.
    *
    * Determinism: values round half-up to micro longs BEFORE clamping
    * and summing (exact integer sums — float order can't move them);
    * both noise scales are Scala-computed doubles interpolated into
    * the oracle verbatim; the released mean is ONE double division of
    * two exact longs, halfUp-6 (IEEE-identical in any engine). A
    * non-positive noisy count releases a NULL mean (the standard
    * small-group failure of the ratio mechanism, kept in-band).
    *
    * Output: (group, n, sum_micro, noise_sum_micro, noise_count_micro,
    * noisy_sum_micro, noisy_count_micro, dp_mean, epsilon_micro).
    *
    * Scale: ONE hash aggregate to |groups| rows (count + clamped sum
    * in the same pass), then row-local arithmetic — same price as
    * [[dpNoisyCounts]].
    */
  def dpNoisyMean(
      df: DataFrame, groupCol: String, valueCol: String,
      loMicro: Long, hiMicro: Long, epsilonMicro: Long = 1000000L,
      releaseSalt: String = ""): DataFrame = {
    require(epsilonMicro > 0, "dpNoisyMean: epsilonMicro must be positive")
    require(hiMicro > loMicro, "dpNoisyMean: need hiMicro > loMicro")
    val sensMicro = math.max(math.abs(loMicro), math.abs(hiMicro))
    require(sensMicro > 0, "dpNoisyMean: [lo, hi] must not be {0}")
    // Laplace scales for the two half-budget draws, as plain doubles
    // (sensitivity / (epsilon/2), both in the same units): these exact
    // literals are interpolated into the oracle SQL — the pqOracleModel
    // rule, never re-derived on the other side.
    val bSum: Double = sensMicro.toDouble * 2.0 / epsilonMicro.toDouble
    val bCnt: Double = 2.0 * 1000000.0 / epsilonMicro.toDouble
    val g = Cleaning.qcol(groupCol)
    val v = Cleaning.toNumeric(Cleaning.qcol(valueCol))
    val vm = least(greatest(
      floor(v * lit(1000000.0) + lit(0.5)).cast("long"),
      lit(loMicro)), lit(hiMicro))
    df.filter(g.isNotNull && v.isNotNull && !isnan(v))
      .groupBy(g.as("group"))
      .agg(count(lit(1)).as("n"), sum(vm).as("sum_micro"))
      .withColumn("noise_sum_micro",
        laplaceNoiseMicro(col("group"), releaseSalt, "sum", bSum))
      .withColumn("noise_count_micro",
        laplaceNoiseMicro(col("group"), releaseSalt, "cnt", bCnt))
      .withColumn("noisy_sum_micro",
        col("sum_micro") + col("noise_sum_micro"))
      .withColumn("noisy_count_micro",
        col("n") * lit(1000000L) + col("noise_count_micro"))
      .withColumn("dp_mean",
        when(col("noisy_count_micro") > 0L,
          Rounding.halfUp(
            col("noisy_sum_micro").cast("double") /
              col("noisy_count_micro").cast("double"), 6)))
      .withColumn("epsilon_micro", lit(epsilonMicro))
  }

  /** Candidate-lattice cap for [[dpNoisyQuantile]]: the released
    * domain is a PUBLIC design choice (like histogram bands), never a
    * data-derived set — and a lattice this size bounds the per-group
    * scoring work and the oracle replay alike. */
  val MaxQuantileDomainCells = 4096L

  /** DP quantile via the exponential mechanism over a PUBLIC bounded
    * domain — the third release mechanism after counts and means:
    * per group, release the lattice point `lo + b*step` whose rank is
    * closest to the q-target, selected by noisy-argmax (the Gumbel
    * trick: argmax of ε/2·u(c) + Gumbel ≡ sampling ∝ exp(ε/2·u(c))).
    * Utility u(c) = −|rank(c) − T| with T = ⌊q·n⌋, rank over values
    * CLAMPED to [lo, hi] and floored to the lattice (the standard
    * discretization: the candidate set must be data-INdependent — an
    * observed-values candidate set would leak membership through the
    * support itself). Sensitivity: adding/removing one row moves every
    * rank(c) by ≤1 and T by <1, so Δu ≤ 2 and the ε/2 exponent gives
    * the textbook ε-DP bound when n is public (2ε worst case when T
    * moves too).
    *
    * Seeding contract identical to [[dpNoisyCounts]] (replayable by
    * design, NOT secure — production swaps the hash for a secure RNG):
    * each candidate's Gumbel draw is domain-separated on
    * (group, salt, "quantile", bucket), so one release's |lattice|
    * draws are independent AND two releases under distinct salts are
    * fresh. Ties (equal floored score) release the SMALLEST candidate
    * — deterministic in every engine.
    *
    * Determinism: ranks, targets, and utilities are exact longs; the
    * one double expression per candidate (u·ε/2 + Gumbel) is
    * floor-micro-rounded with the same `floor(x·1e6 + 0.5)` shape as
    * the Laplace draws, identical IEEE tree in the oracle.
    *
    * Output: (group, n, target_rank, dp_quantile, q_micro,
    * epsilon_micro) — one row per group. CONTRACT: `n` and
    * `target_rank` are EXACT, NON-PRIVATE diagnostics — the ε-DP
    * claim covers `dp_quantile` only and holds as stated only when
    * group sizes are public (the same convention as
    * [[dpNoisyCounts]]' exact `n`). A production caller whose group
    * sizes are NOT public must pass
    * `includeDiagnostics = false`, which nulls both columns so they
    * cannot be released by accident (schema stays stable for
    * downstream contracts).
    *
    * Scale: ONE corpus hash aggregate to the (group, bucket) lattice
    * (≤ |groups|·|lattice| rows, lattice ≤ [[MaxQuantileDomainCells]]
    * by require), then group-partitioned windows over ≤ |lattice|
    * rows — the corpus never sorts and never shuffles twice.
    */
  def dpNoisyQuantile(
      df: DataFrame, groupCol: String, valueCol: String,
      qMicro: Long, domainLo: Long, domainHi: Long, domainStep: Long,
      epsilonMicro: Long = 500000L, releaseSalt: String = "",
      includeDiagnostics: Boolean = true): DataFrame = {
    require(epsilonMicro > 0, "dpNoisyQuantile: epsilonMicro must be positive")
    require(qMicro >= 0 && qMicro <= 1000000L,
      s"dpNoisyQuantile: qMicro must be in [0, 1e6], got $qMicro")
    require(domainStep > 0, "dpNoisyQuantile: domainStep must be positive")
    require(domainHi >= domainLo, "dpNoisyQuantile: domainHi < domainLo")
    val nb = (domainHi - domainLo) / domainStep + 1
    require(nb <= MaxQuantileDomainCells,
      s"dpNoisyQuantile: lattice has $nb cells > $MaxQuantileDomainCells — " +
        "widen domainStep (the domain is a public design, keep it coarse)")
    val g = Cleaning.qcol(groupCol)
    val v = Cleaning.qcol(valueCol).cast("long")
    // clamp to [lo, hi], then integer `div` to the lattice floor --
    // exact long arithmetic end to end (a double division would go
    // inexact near bucket boundaries for wide domains)
    val counts = df.filter(g.isNotNull && v.isNotNull)
      .select(g.as("group"),
        (least(greatest(v, lit(domainLo)), lit(domainHi)) - lit(domainLo))
          .as("__voff"))
      .withColumn("__b", expr(s"__voff div $domainStep"))
      .groupBy(col("group"), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val groups = counts.groupBy(col("group")).agg(sum(col("__c")).as("n"))
    val lattice = groups
      .select(col("group"), col("n"),
        explode(sequence(lit(0L), lit(nb - 1))).as("__b"))
      .join(counts, Seq("group", "__b"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group")).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("group"))
    val epsHalf: Double = epsilonMicro / 2000000.0  // eps/2 as a double
    val h = graft.functions.PortableHash.affineHash(
      graft.functions.PortableHash.polyHash31(
        concat(col("group").cast("string"), lit("\u001f"), lit(releaseSalt),
          lit("\u001f"), lit("quantile"), lit("\u001f"),
          col("__b").cast("string"))))
    val unif = (h.cast("double") + lit(0.5)) /
      lit(graft.functions.PortableHash.P.toDouble)
    val scored = lattice
      .withColumn("__r", sum(col("__c")).over(wCum))
      .withColumn("__t", expr(s"n * $qMicro div 1000000"))
      .withColumn("__ut", -abs(col("__r") - col("__t")))
      .withColumn("__score", floor(
        (col("__ut").cast("double") * lit(epsHalf) + -log(-log(unif)))
          * lit(1000000.0) + lit(0.5)).cast("long"))
    val released = scored
      .withColumn("__best", max(col("__score")).over(wAll))
      .filter(col("__score") === col("__best"))
      .groupBy(col("group"))
      .agg(min(col("n")).as("n"), min(col("__t")).as("target_rank"),
        min(lit(domainLo) + col("__b") * lit(domainStep)).as("dp_quantile"))
      .withColumn("q_micro", lit(qMicro))
      .withColumn("epsilon_micro", lit(epsilonMicro))
    // diagnostics gate: n/target_rank are exact (non-private) — null
    // them out when the caller's group sizes are not public, keeping
    // the schema stable for downstream contracts
    if (includeDiagnostics) released
    else released
      .withColumn("n", lit(null).cast("long"))
      .withColumn("target_rank", lit(null).cast("long"))
  }
  /** Per-salt epsilon accounting over a release LOG (one row per
    * release call: its salt and its epsilon spend) — the sequential-
    * composition ledger [[dpNoisyCounts]]/[[dpNoisyMean]] document as
    * the caller's job, as a library call. Under the deterministic
    * seeding contract a REUSED salt replays byte-identical noise, so
    * it spends its epsilon once no matter how many times it is logged
    * — the per-salt row carries `n_uses` (reuse is an audit smell
    * worth seeing) and `n_eps_variants` (logging DIFFERENT epsilons
    * under one salt is a pipeline bug: the replayed noise was drawn at
    * ONE scale; the ledger conservatively charges the MAX). The
    * `__total__` row is the pipeline's composed spend: Σ over salts.
    *
    * Scale: one hash aggregate to |salts| rows plus a 1-row total —
    * the log is release-sized, never data-sized.
    */
  def epsilonLedger(
      releases: DataFrame, saltCol: String, epsCol: String): DataFrame = {
    val perSalt = releases
      .select(Cleaning.qcol(saltCol).cast("string").as("release_salt"),
        Cleaning.qcol(epsCol).cast("long").as("eps"))
      .filter(col("release_salt").isNotNull && col("eps").isNotNull)
      .groupBy(col("release_salt"))
      .agg(count(lit(1)).as("n_uses"),
        countDistinct(col("eps")).as("n_eps_variants"),
        max(col("eps")).as("epsilon_micro"))
    val total = perSalt.agg(
      coalesce(sum(col("n_uses")), lit(0L)).as("n_uses"),
      coalesce(sum(col("n_eps_variants")), lit(0L)).as("n_eps_variants"),
      coalesce(sum(col("epsilon_micro")), lit(0L)).as("epsilon_micro"))
      .select(lit("__total__").as("release_salt"), col("n_uses"),
        col("n_eps_variants"), col("epsilon_micro"))
    perSalt.unionByName(total)
  }
}
