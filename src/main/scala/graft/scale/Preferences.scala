package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Cleaning.qcol

/** Preference-data operators — the RLHF/eval side of a training-data
  * pipeline: a stream of pairwise outcomes (winner item, loser item)
  * from human raters or auto-judges, rolled up to per-item win rates
  * and fixed-iteration Bradley-Terry strengths (Bradley & Terry 1952;
  * the MM update of Hunter 2004, re-expressed as joins+aggregates the
  * way [[Graph.pageRank]] re-expresses power iteration).
  *
  * Determinism contract (the [[Graph]] family's): strengths live in
  * integer MICRO units, every division is integer `div`, and each
  * iteration ends in a max-divisor rescale to 1e6 (the HITS move —
  * overflow-proof and scale-pinning), so a fixed iteration count
  * unrolls in any engine bit-exactly.
  */
object Preferences {

  /** The caller's (winner, loser) columns as (w, l): the one games prep
    * under [[itemStats]] and [[pairStats]]. Names resolve through
    * `qcol`, so dotted names work. */
  private def outcomes(
      games: DataFrame, winnerCol: String, loserCol: String): DataFrame =
    games.select(qcol(winnerCol).as("w"), qcol(loserCol).as("l"))

  /** Per-item outcome rollup: (item, wins, losses, games,
    * winrate_micro = wins·1e6 div games). One union + one aggregate.
    *
    * Scale: games shuffle once on the item key; output is |items|
    * rows. */
  def itemStats(
      games: DataFrame, winnerCol: String, loserCol: String): DataFrame = {
    val g = outcomes(games, winnerCol, loserCol)
    g.select(col("w").as("item"), lit(1L).as("win"))
      .union(g.select(col("l").as("item"), lit(0L).as("win")))
      .filter(col("item").isNotNull)
      .groupBy(col("item"))
      .agg(sum(col("win")).as("wins"),
        count(lit(1)).as("games"))
      .withColumn("losses", col("games") - col("wins"))
      .withColumn("winrate_micro", expr("(wins * 1000000L) div games"))
      .select(col("item"), col("wins"), col("losses"), col("games"),
        col("winrate_micro"))
  }

  /** Unordered-pair outcome matrix: one row per item pair `a < b` with
    * the game count and a's wins (b's wins = games − wins_a). The
    * input-to-model aggregate of [[btStrengths]], exposed because the
    * pair matrix IS the audit surface (sparsity, coverage, lopsided
    * match-ups).
    *
    * Scale: one aggregate on the canonicalized pair key — |pairs| ≤
    * |items|² rows out, corpus-sized rows in. */
  def pairStats(
      games: DataFrame, winnerCol: String, loserCol: String): DataFrame =
    outcomes(games, winnerCol, loserCol)
      .filter(col("w").isNotNull && col("l").isNotNull && col("w") =!= col("l"))
      .select(least(col("w"), col("l")).as("item_a"),
        greatest(col("w"), col("l")).as("item_b"),
        when(col("w") < col("l"), 1L).otherwise(0L).as("win_a"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("games"), sum(col("win_a")).as("wins_a"))

  /** Fixed-iteration Bradley-Terry strengths in integer micro units.
    *
    * Model: P(i beats j) = s_i / (s_i + s_j). The MM update (Hunter
    * 2004) with Laplace-smoothed win totals W_i = wins_i + 1 (the
    * smoothing keeps every item's strength strictly positive, so no
    * denominator can hit zero and winless items rank by their
    * opposition rather than collapsing to a degenerate 0 fixed point):
    *
    *   d_i  = Σ_{j : games(i,j)>0}  (n_ij · 1e12) div (s_i + s_j)
    *   s_i' = (W_i · 1e12) div d_i,  then rescale s' to max 1e6
    *
    * Every operand is a long, every step integer division, and the
    * per-iteration max-divisor rescale pins the scale (strengths are
    * only defined up to a constant factor anyway) — bounded magnitudes
    * at any game count, bit-exact in any engine.
    *
    * Scale: the corpus-sized work is the ONE [[pairStats]] aggregate;
    * each iteration then runs on the |pairs|-row matrix — two
    * strength joins on the item key, a per-item aggregate, and a 1-row
    * MAX broadcast. Each iteration references the previous strengths
    * TWICE (s_i and s_j), so the frame is localCheckpointed per
    * iteration — without it the lazy plan doubles per step (the
    * measured HITS lesson, SCALE.md). Output: (item, wins, games,
    * strength_micro).
    *
    * Iteration default: measured, not blind — [[btConvergence]] on the
    * preference fixture shows max per-item movement 443k → 135k → 63k
    * → 39k micro over the first 4 iterations (sf0.01, r11; the
    * `x_pref_bt_delta` key replays the curve), and the RANKING is
    * already identical to the 8-iteration run at 4 (PreferencesSpec
    * gate). Strengths keep drifting ~0.7x per extra iteration — run
    * more when the downstream consumer needs calibrated probabilities
    * rather than an ordering.
    *
    * Overflow contract: with the 1e12 numerator scale, per-pair game
    * counts and per-item smoothed wins must stay below ~9.2e6. BT
    * strengths are invariant under scaling ALL counts by a common
    * factor (d_i and W_i scale together and the ratio cancels), so at
    * corpus scale pass `countDiv` > 1: every pair count and win total
    * is integer-divided by it first (floored at 1 so no pair vanishes)
    * — the standard count-rescale, exact in reals, and the integer
    * rounding it introduces is part of the deterministic replay.
    */
  def btStrengths(
      games: DataFrame, winnerCol: String, loserCol: String,
      iterations: Int = 4, countDiv: Long = 1L): DataFrame = {
    require(iterations >= 1, "btStrengths: need at least one iteration")
    require(countDiv >= 1, "btStrengths: countDiv must be >= 1")
    val (_, directed, totals) =
      btSetupFromPairs(pairStats(games, winnerCol, loserCol), countDiv)
    btRun(directed, totals, iterations, None)._1
  }

  /** [[btStrengths]] over an EXISTING pair matrix (a [[pairStats]]
    * output, a [[mergePairStats]] merge, or a loaded
    * [[graft.scale.Models.loadBtPairs]] artifact), optionally
    * WARM-STARTED from a prior wave's strengths — the incremental path
    * a production preference pipeline actually runs (the
    * [[Graph.pageRankRefresh]] move): persist the pair matrix and the
    * strengths, merge a new wave's pairs (counts just sum), and
    * continue the MM loop FROM the previous fixed point instead of
    * re-running the full iteration budget from the uniform start. MM
    * is monotone toward the unique (smoothed) fixed point, so a
    * near-converged init needs a handful of iterations where a cold
    * start needs many multiples — at billions of judgments, a nightly
    * job instead of an impossible one.
    *
    * Per-item totals (wins, games, the Laplace-smoothed W_i) derive
    * FROM the pair matrix — wins_i = Σ wins_a over pairs where i is
    * the `a` side plus Σ (games − wins_a) where it is the `b` side —
    * so the model's item universe IS the matrix and a merged matrix
    * prices one |pairs|-row aggregate, never a rescan of old waves'
    * raw games. For null-free, self-pair-free games these totals equal
    * [[itemStats]]'s exactly, so warm-starting over an UNCHANGED pair
    * matrix for k iterations is bit-identical to extending the
    * original [[btStrengths]] run by k (spec-pinned, the
    * [[Graph.pageRankRefresh]] contract).
    *
    * Init hygiene (the [[Graph]] family's): `init` is deduplicated on
    * item (max strength wins — deterministic); items in the matrix but
    * absent from init start at the uniform 1e6 (exactly a cold item's
    * init); init items that left the matrix drop out.
    */
  def btStrengthsFromPairs(
      pairs: DataFrame, iterations: Int = 2, countDiv: Long = 1L,
      init: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1, "btStrengthsFromPairs: need at least one iteration")
    require(countDiv >= 1, "btStrengthsFromPairs: countDiv must be >= 1")
    val (_, directed, totals) = btSetupFromPairs(pairs, countDiv)
    btRun(directed, totals, iterations, init)._1
  }

  /** Merge two pair matrices (both [[pairStats]]-shaped) — the
    * new-wave union a warm-start refresh feeds [[btStrengthsFromPairs]]:
    * outcome counts are plain sums, so merging is ONE |pairs|-row
    * aggregate and bit-exact vs recomputing [[pairStats]] over the
    * concatenated game logs. */
  def mergePairStats(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = Seq("item_a", "item_b", "games", "wins_a")
    a.select(cols.map(col): _*).unionByName(b.select(cols.map(col): _*))
      .groupBy(col("item_a"), col("item_b"))
      .agg(sum(col("games")).as("games"), sum(col("wins_a")).as("wins_a"))
  }

  /** Item types the driver fold accepts: driver-map equality must agree
    * with Spark join equality (integral and string keys do; decimals
    * would compare scale-sensitively on the driver). */
  private def btDriverSafeItemType(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }
  }

  /** Hybrid cutover for the MM loop — the [[DriverFold]] policy
    * applied to Bradley–Terry: the corpus-sized work is the ONE
    * [[pairStats]] aggregate, and the loop itself runs on the
    * |pairs|-row matrix. When the directed matrix fits the budget the MM
    * iterations fold on the DRIVER in O(iterations·|pairs|) — replacing
    * ~5 Spark jobs per iteration (two joins, an aggregate, a 1-row max,
    * a checkpoint) whose fixed per-job cost dominates at any realistic
    * item count (items are models/sources/policies — thousands, not
    * corpus rows). Past the budget — or for exotic item types with no
    * safe driver equality — the distributed loop below takes over (the
    * 100 TB fallback; leaderboards past ~2000 items with a DENSE pair
    * matrix). Identical results either way: every step is long sums
    * (order-free), positive-operand integer division, and
    * multiplyExact/addExact replaying ANSI's overflow error —
    * spec-pinned driver ≡ distributed.
    *
    * This is the driver side: a replay of the MM loop over the
    * collected directed matrix. Returns None (caller falls back to the
    * distributed loop) when the matrix, the item totals or the
    * warm-start `init` frame exceeds the budget, or the item type is
    * not driver-safe; `init` is deduped by [[DriverFold.maxByKey]], the
    * max-strength rule of [[btInit]]. The arithmetic is the EXACT
    * integer chain [[btStep]] runs distributed, including the
    * inner-join drop semantics (an item missing from the strength map
    * contributes no term; an item with no opponents drops from the next
    * strength frame). `deltas(k)` is iteration k+1's max |Δstrength|
    * over items present in consecutive frames — [[btRun]]'s
    * inner-join max — None when no overlap. */
  private def btFoldLocal(
      directed: DataFrame, totals: DataFrame, iterations: Int,
      init: Option[DataFrame]):
      Option[(java.util.HashMap[Any, java.lang.Long],
        Array[(Any, Long, Long, Long)], Array[Option[Long]])] = {
    if (!btDriverSafeItemType(totals.schema("item").dataType)) None
    else for {
      matrix <- DriverFold.collect(directed, col("i"), col("j"), col("n"))
      items <- DriverFold.collect(totals, col("item"), col("wins"), col("games"), col("w_smooth"))
      initMap <- DriverFold.maxByKey(init, "item", "strength_micro")
    } yield {
      val dRows = matrix.map(r => (r.get(0), r.get(1), r.getLong(2)))
      val tRows = items.map(r => (r.get(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      var s = new java.util.HashMap[Any, java.lang.Long]()
      tRows.foreach { t =>
        val warm = initMap.map(_.get(t._1)).orNull
        s.put(t._1, if (warm != null) warm else java.lang.Long.valueOf(1000000L))
      }
      val deltas = Array.fill[Option[Long]](iterations)(None)
      for (it <- 0 until iterations) {
        val d = new java.util.HashMap[Any, java.lang.Long]()
        dRows.foreach { case (i, j, n) =>
          val si = s.get(i); val sj = s.get(j)
          if (si != null && sj != null) {
            val term = Math.multiplyExact(n, 1000000000000L) / (si + sj)
            val prev = d.get(i)
            d.put(i, if (prev == null) term else Math.addExact(prev, term))
          }
        }
        var mx = Long.MinValue
        val raw = new java.util.HashMap[Any, java.lang.Long]()
        tRows.foreach { case (item, _, _, w) =>
          val dv = d.get(item)
          if (dv != null) {
            val r = Math.multiplyExact(w, 1000000000000L) / dv
            raw.put(item, r); if (r > mx) mx = r
          }
        }
        val next = new java.util.HashMap[Any, java.lang.Long]()
        var dm = -1L
        raw.forEach { (item, r) =>
          val v = math.max(Math.multiplyExact(r.longValue, 1000000L) / mx, 1L)
          next.put(item, v)
          val prev = s.get(item)
          if (prev != null) {
            val diff = math.abs(v - prev); if (diff > dm) dm = diff
          }
        }
        deltas(it) = if (dm >= 0) Some(dm) else None
        s = next
      }
      (s, tRows, deltas)
    }
  }

  /** The MM loop, written once: init (uniform or warm), `iterations`
    * steps, and the final (item, wins, games, strength_micro)
    * projection, plus the per-iteration convergence curve
    * (iteration, max_delta_micro) of [[btConvergence]], built only
    * when called. A curve row is the max |Δstrength| over the items
    * present in two consecutive strength frames (an inner join). Driver
    * fold when the pair matrix fits the [[DriverFold]] budget;
    * distributed loop otherwise. */
  private def btRun(
      directed: DataFrame, totals: DataFrame, iterations: Int,
      init: Option[DataFrame]): (DataFrame, () => DataFrame) =
    btFoldLocal(directed, totals, iterations, init) match {
      case Some((sFinal, tRows, deltas)) =>
        // the fold's frames carry the exact column set/types of the
        // distributed projections; an item with no final strength drops
        // (the inner join)
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        import scala.jdk.CollectionConverters._
        def local(rows: Seq[Row], fields: StructField*) =
          totals.sparkSession.createDataFrame(rows.asJava, StructType(fields))
        val strengths = local(
          tRows.toSeq.flatMap(t =>
            Option(sFinal.get(t._1)).map(v => Row(t._1, t._2, t._3, v.longValue))),
          StructField("item", totals.schema("item").dataType),
          StructField("wins", LongType), StructField("games", LongType),
          StructField("strength_micro", LongType))
        val curve = () => local(
          deltas.toSeq.zipWithIndex.map { case (d, k) =>
            Row(k + 1, d.map(java.lang.Long.valueOf).orNull)
          },
          StructField("iteration", IntegerType, nullable = false),
          StructField("max_delta_micro", LongType))
        (strengths, curve)
      case None =>
        val s = (1 to iterations).scanLeft(btInit(totals, init))(
          (prev, _) => btStep(directed, totals, prev))
        val strengths = totals.select(col("item"), col("wins"), col("games"))
          .join(s.last, Seq("item"))
          .withColumnRenamed("s_micro", "strength_micro")
        val curve = () => s.zip(s.tail).zipWithIndex.map { case ((prev, next), k) =>
          prev.select(col("item"), col("s_micro").as("__prev"))
            .join(next, Seq("item"))
            .agg(max(abs(col("s_micro") - col("__prev"))).as("max_delta_micro"))
            .select(lit(k + 1).as("iteration"), col("max_delta_micro"))
        }.reduce(_ unionByName _)
        (strengths, curve)
    }

  /** Initial strength frame: uniform 1e6, or the deduped warm init
    * left-joined onto the item universe (absent items cold-start). */
  private def btInit(totals: DataFrame, init: Option[DataFrame]): DataFrame =
    init match {
      case None => totals.select(col("item"), lit(1000000L).as("s_micro"))
      case Some(prev) =>
        val p = prev.groupBy(col("item"))
          .agg(max(col("strength_micro")).as("__s0"))
        totals.select(col("item"))
          .join(p, Seq("item"), "left")
          .select(col("item"),
            coalesce(col("__s0"), lit(1000000L)).as("s_micro"))
          .localCheckpoint(eager = false)
    }

  /** The shared MM inputs from a pair matrix, each MATERIALIZED
    * once: the lazy forms would re-run the corpus-sized pair/win
    * aggregates on EVERY iteration (each step's `d` join re-evaluates
    * its inputs — only `s` was checkpointed before r11; measured ~2x
    * on the fixture, and at corpus scale it is the difference between
    * one corpus scan and `iterations` of them). All three frames are
    * summary-sized (|pairs|, |items|), so each barrier is
    * metadata-priced.
    *
    * Returns the matrix with long counts (the frame [[btCalibration]]
    * bins), the directed view — (i, j, n_ij) both ways, counts divided
    * by `countDiv` and floored at 1 — and the per-item totals, which
    * derive from the UNDIVIDED matrix: wins and games per item are
    * exact pair-matrix marginals, and w_smooth = wins div countDiv + 1.
    * Over a [[pairStats]] matrix these totals equal [[itemStats]]' of
    * the null-free, self-free games, so the games path and the matrix
    * path fit bit-identically. */
  private def btSetupFromPairs(
      pairs: DataFrame, countDiv: Long): (DataFrame, DataFrame, DataFrame) = {
    val p = pairs.select(col("item_a"), col("item_b"),
        col("games").cast("long").as("games"),
        col("wins_a").cast("long").as("wins_a"))
      .localCheckpoint(eager = false)
    val capped = p.withColumn("games",
      greatest(expr(s"games div ${countDiv}L"), lit(1L)))
    val directed = capped.select(
        col("item_a").as("i"), col("item_b").as("j"), col("games").as("n"))
      .union(capped.select(
        col("item_b").as("i"), col("item_a").as("j"), col("games").as("n")))
      .localCheckpoint(eager = false)
    val totals = p.select(
        col("item_a").as("item"), col("wins_a").as("w"), col("games").as("g"))
      .union(p.select(col("item_b").as("item"),
        (col("games") - col("wins_a")).as("w"), col("games").as("g")))
      .groupBy(col("item"))
      .agg(sum(col("w")).as("wins"), sum(col("g")).as("games"))
      .withColumn("w_smooth", greatest(expr(s"wins div ${countDiv}L"), lit(0L)) + lit(1L))
      .localCheckpoint(eager = false)
    (p, directed, totals)
  }

  /** Wilson score interval on per-item win rates — the confidence
    * band a leaderboard needs before it reorders two items on a
    * handful of games (a raw 3/4 win rate outranks 70/100 without it).
    * Emits [[itemStats]] plus `wilson_lo`/`wilson_hi` at the z given
    * in micro units (default 1.96 — the 95% band).
    *
    * Determinism: p, the interval arithmetic, and the final halfUp 6
    * rounding are ONE fixed IEEE double expression (w, n exact longs;
    * sqrt is correctly rounded per IEEE-754 in any engine), written in
    * the identical shape on the oracle side — the ln-chain precedent.
    *
    * Scale: a row-local projection over the |items|-row [[itemStats]]
    * aggregate — free.
    */
  def winRateWilson(
      games: DataFrame, winnerCol: String, loserCol: String,
      zMicro: Long = 1960000L): DataFrame = {
    require(zMicro > 0, "winRateWilson: zMicro must be positive")
    val z = zMicro.toDouble / 1e6
    val stats = itemStats(games, winnerCol, loserCol)
    val n = col("games").cast("double")
    val p = col("wins").cast("double") / n
    val zz = lit(z) * lit(z)
    val a = p + zz / (lit(2.0) * n)
    val b = sqrt(p * (lit(1.0) - p) / n + zz / (lit(4.0) * (n * n)))
    val den = lit(1.0) + zz / n
    stats
      .withColumn("wilson_lo", graft.ops.Rounding.halfUp((a - lit(z) * b) / den, 6))
      .withColumn("wilson_hi", graft.ops.Rounding.halfUp((a + lit(z) * b) / den, 6))
  }

  /** Cohen's kappa between two raters over a shared item set — the
    * inter-annotator agreement gate an RLHF/eval pipeline runs before
    * trusting a label stream (raw percent agreement overstates quality
    * whenever the label marginals are skewed; kappa subtracts the
    * chance term).
    *
    * Input: one row per (item, rater, label). Duplicate ratings by the
    * same rater collapse to the MIN label (the library's deterministic
    * tie rule). Only items rated by BOTH raters enter the statistic;
    * an empty overlap emits the row with NULL rates (no loud failure —
    * an agreement AUDIT reports, it never throws).
    *
    * Integer-exact: po and pe live in micro units
    * (`agree·1e6 div n`, `Σ_k cA_k·cB_k·1e6 div n²`), and
    * `kappa_micro = (po−pe)·1e6 div (1e6−pe)` — NULL when pe = 1 (a
    * degenerate single-label world has no chance-corrected signal).
    * Output: one row (n_items, n_agree, po_micro, pe_micro,
    * kappa_micro).
    *
    * Scale: one (item, rater) pre-aggregate, one item-keyed self-join
    * of the two rater slices, one |labels|²-bounded marginal join —
    * everything past the first aggregate is label-cardinality-sized.
    * Overflow: cA_k·cB_k·1e6 needs n ≲ 3e6 per label side; divide
    * counts upstream for bigger panels (the BT countDiv move).
    */
  def cohenKappa(
      ratings: DataFrame, itemCol: String, raterCol: String, labelCol: String,
      raterA: String, raterB: String): DataFrame = {
    require(raterA != raterB, "cohenKappa: raters must differ")
    kappaCore(ratings, itemCol, raterCol, labelCol, raterA, raterB, None)
  }

  /** Cohen's agreement chain, written once for [[cohenKappa]] (no key)
    * and [[kappaDrift]] (keyed by `wave`): the two raters' collapsed
    * labels joined on (wave, item) into the (la, lb) overlap, then per
    * key the agreement count, the label marginals' cross term, and the
    * po/pe/kappa micro chain. Without a key every aggregate is global,
    * so an empty overlap still emits its one null-rated row. */
  private def kappaCore(
      ratings: DataFrame, itemCol: String, raterCol: String, labelCol: String,
      raterA: String, raterB: String, waveCol: Option[String]): DataFrame = {
    val keyNames = waveCol.map(_ => "wave").toSeq
    val keys = keyNames.map(col)
    val one = collapseRatings(ratings, itemCol, raterCol, labelCol, waveCol,
      Seq(raterA, raterB))
    def side(rater: String, label: String) = one.filter(col("rater") === rater)
      .select(keys ++ Seq(col("item"), col("label").as(label)): _*)
    // reused by the agreement aggregate AND both marginals — one scan
    val both = side(raterA, "la").join(side(raterB, "lb"), keyNames :+ "item")
      .localCheckpoint(eager = false)
    val agg = both.groupBy(keys: _*).agg(
      count(lit(1)).as("n_items"),
      coalesce(sum(when(col("la") === col("lb"), 1L)), lit(0L)).as("n_agree"))
    def marginal(label: String, name: String) =
      both.groupBy(keys :+ col(label).as("label"): _*).agg(count(lit(1)).as(name))
    val chance = marginal("la", "ca").join(marginal("lb", "cb"), keyNames :+ "label")
      .groupBy(keys: _*)
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("cross"))
    (if (waveCol.isEmpty) agg.crossJoin(broadcast(chance)) else agg.join(chance, keyNames))
      .select(keys ++ Seq(col("n_items"), col("n_agree"),
        when(col("n_items") > 0L,
          expr("(n_agree * 1000000L) div n_items")).as("po_micro"),
        when(col("n_items") > 0L,
          expr("(cross * 1000000L) div (n_items * n_items)")).as("pe_micro")): _*)
      .withColumn("kappa_micro",
        when(col("pe_micro") < 1000000L,
          expr("((po_micro - pe_micro) * 1000000L) div (1000000L - pe_micro)")))
  }

  /** Collapse a (item, rater, label) stream to ONE label per (item,
    * rater) — the MIN label, the library's deterministic tie rule;
    * rater and label cast to string, null items/labels drop. The one
    * ratings prep of every agreement operator: `waveCol` adds a leading
    * `wave` key (null waves drop) and `raters` keeps only the named
    * raters. Names resolve through `qcol`, so dotted names work. */
  private def collapseRatings(
      ratings: DataFrame, itemCol: String, raterCol: String, labelCol: String,
      waveCol: Option[String] = None, raters: Seq[String] = Nil): DataFrame = {
    val wave = waveCol.map(qcol(_).as("wave")).toSeq
    val keep = waveCol.map(_ => col("wave").isNotNull).toSeq ++
      Seq(col("item").isNotNull, col("label").isNotNull) ++
      raters.map(col("rater") === _).reduceOption(_ || _)
    ratings
      .select(wave ++ Seq(qcol(itemCol).as("item"),
        qcol(raterCol).cast("string").as("rater"),
        qcol(labelCol).cast("string").as("label")): _*)
      .filter(keep.reduce(_ && _))
      .groupBy((waveCol.map(_ => col("wave")).toSeq ++ Seq(col("item"), col("rater"))): _*)
      .agg(min(col("label")).as("label"))
  }

  /** Per-(item, label) rating counts over the collapsed panel, named
    * `name`, materialized once: [[consensusLabels]]' election and the
    * panel statistics' per-item pass each read it twice. */
  private def labelCounts(
      ratings: DataFrame, itemCol: String, raterCol: String, labelCol: String,
      name: String): DataFrame =
    collapseRatings(ratings, itemCol, raterCol, labelCol)
      .groupBy(col("item"), col("label"))
      .agg(count(lit(1)).as(name))
      .localCheckpoint(eager = false)

  /** The panel statistics' shared pass ([[fleissKappa]],
    * [[krippendorffAlpha]]) over the (item, label) counts `nik`: per
    * item n_i = Σ_k n_ik and the `itemTerm` sum, kept when n_i ≥ 2,
    * with its floored per-item micro `itemMicro` (a `<x>_micro` name);
    * then ONE row — (n_items, n_ratings, `__<x>sum` = Σ of the item
    * micros) crossed with the `labelTerm` sum over the kept items'
    * pooled label counts ck. Each statistic closes with its own
    * formulas over that row. */
  private def panelCore(
      ratings: DataFrame, itemCol: String, raterCol: String, labelCol: String,
      itemTerm: (String, Column), itemMicro: (String, String),
      labelTerm: (String, Column)): DataFrame = {
    val (termName, term) = itemTerm
    val (microName, micro) = itemMicro
    val nik = labelCounts(ratings, itemCol, raterCol, labelCol, "nik")
    val byItem = nik.groupBy(col("item"))
      .agg(sum(col("nik")).as("ni"), sum(term).as(termName))
      .filter(col("ni") >= 2L)
      .withColumn(microName, expr(micro))
      .localCheckpoint(eager = false) // reused: the top-line aggregate + the kept-item filter
    val top = byItem.agg(
      count(lit(1)).as("n_items"),
      coalesce(sum(col("ni")), lit(0L)).as("n_ratings"),
      coalesce(sum(col(microName)), lit(0L))
        .as("__" + microName.stripSuffix("_micro") + "sum"))
    val marg = nik.join(byItem.select(col("item")), Seq("item"))
      .groupBy(col("label")).agg(sum(col("nik")).as("ck"))
      .agg(coalesce(sum(labelTerm._2), lit(0L)).as(labelTerm._1))
    top.crossJoin(broadcast(marg))
  }

  /** Fleiss' kappa over a MULTI-rater panel — [[cohenKappa]]'s
    * two-rater statistic generalized to the label streams real
    * pipelines have (Fleiss 1971; the unequal-raters-per-item form,
    * since panels never rate everything): per-item agreement
    * P_i = (Σ_k n_ik² − n_i) / (n_i(n_i−1)) over items with n_i ≥ 2
    * ratings, chance P̄_e = Σ_k p_k² from the pooled label shares.
    *
    * Integer-exact SPEC (documented, both engines replay it): each
    * P_i floors to micro (`(Σn_ik²−n_i)·1e6 div (n_i(n_i−1))`), P̄ is
    * their integer mean (`Σ P_i_micro div N`), P̄_e floors once from
    * the exact integer cross term (`Σ_k c_k²·1e6 div M²` with
    * c_k = Σ_i n_ik, M = Σ_i n_i over the KEPT items), and
    * `kappa_micro = (P̄−P̄_e)·1e6 div (1e6−P̄_e)` — NULL when P̄_e = 1.
    * Each floor loses < 1 micro, so the spec sits within 2e-6 of the
    * real-valued Fleiss statistic while being bit-exact to replay.
    *
    * Output: one row (n_items, n_ratings, pbar_micro, pe_micro,
    * kappa_micro). Overflow: Σc_k²·1e6 needs M ≲ 3e6 ratings —
    * divide counts upstream for bigger panels (the BT countDiv move).
    *
    * Scale: ONE corpus-sized (item, rater) collapse feeding one
    * (item, label) aggregate, materialized once; everything after is
    * item- or label-cardinality-sized.
    */
  def fleissKappa(
      ratings: DataFrame, itemCol: String, raterCol: String,
      labelCol: String): DataFrame = {
    panelCore(ratings, itemCol, raterCol, labelCol,
        itemTerm = "sq" -> col("nik") * col("nik"),
        itemMicro = "pi_micro" -> "((sq - ni) * 1000000L) div (ni * (ni - 1L))",
        labelTerm = "__cross" -> col("ck") * col("ck"))
      .select(col("n_items"), col("n_ratings"),
        when(col("n_items") > 0L, expr("__pisum div n_items")).as("pbar_micro"),
        when(col("n_items") > 0L,
          expr("(__cross * 1000000L) div (n_ratings * n_ratings)")).as("pe_micro"))
      .withColumn("kappa_micro",
        when(col("pe_micro") < 1000000L,
          expr("((pbar_micro - pe_micro) * 1000000L) div (1000000L - pe_micro)")))
  }

  /** Krippendorff's alpha (nominal) over a multi-rater panel —
    * the agreement statistic that stays comparable under MISSING
    * ratings (Krippendorff 2004, coincidence-matrix form), which is
    * why content-analysis pipelines prefer it to [[fleissKappa]] when
    * panels are ragged: kappa's chance term shifts with who happened
    * to rate what; alpha's is pooled over pairable values only.
    *
    * Coincidence form over items with n_i ≥ 2 ratings
    * (n = Σ n_i pairable values, c_k = pooled label counts):
    * observed disagreement D_o = n − Σ_i Σ_k n_ik(n_ik−1)/(n_i−1),
    * expected D_e = n − Σ_k c_k(c_k−1)/(n−1), alpha = 1 − D_o/D_e.
    *
    * Integer-exact SPEC (documented; both engines replay it): each
    * item's agreement mass floors once to micro
    * (`Σ_k n_ik(n_ik−1)·1e6 div (n_i−1)`), `do_micro = n·1e6 − Σ_i`,
    * the chance mass floors once (`Σ_k c_k(c_k−1)·1e6 div (n−1)`),
    * `de_micro = n·1e6 − that`, and
    * `alpha_micro = (de_micro − do_micro)·1e6 div de_micro` — NULL
    * when de_micro = 0 (all kept ratings share one label: agreement
    * is undefined, not perfect). Each floor loses < 1 micro, so the
    * spec sits within ~2e-6 of the real-valued alpha.
    *
    * Output: one row (n_items, n_ratings, do_micro, de_micro,
    * alpha_micro). Overflow: Σc_k(c_k−1)·1e6 needs n ≲ 3e6 ratings —
    * divide counts upstream for bigger panels (the BT countDiv move).
    *
    * Scale: the same shape as [[fleissKappa]] — ONE corpus-sized
    * (item, rater) collapse feeding one (item, label) aggregate,
    * materialized once; everything after is item- or
    * label-cardinality-sized.
    */
  def krippendorffAlpha(
      ratings: DataFrame, itemCol: String, raterCol: String,
      labelCol: String): DataFrame = {
    panelCore(ratings, itemCol, raterCol, labelCol,
        itemTerm = "agr" -> col("nik") * (col("nik") - 1L),
        itemMicro = "okk_micro" -> "(agr * 1000000L) div (ni - 1L)",
        labelTerm = "__ce" -> col("ck") * (col("ck") - 1L))
      .select(col("n_items"), col("n_ratings"),
        when(col("n_items") > 0L && col("n_ratings") >= 2L,
          expr("n_ratings * 1000000L - __okksum")).as("do_micro"),
        when(col("n_items") > 0L && col("n_ratings") >= 2L,
          expr("n_ratings * 1000000L - (__ce * 1000000L) div (n_ratings - 1L)"))
          .as("de_micro"))
      .withColumn("alpha_micro",
        when(col("de_micro") > 0L,
          expr("((de_micro - do_micro) * 1000000L) div de_micro")))
  }

  /** Bradley-Terry CALIBRATION audit — is the fitted model's
    * P(i beats j) = s_i/(s_i+s_j) honest about frequencies, not just
    * orderings: per predicted-probability bin, the games-weighted mean
    * prediction vs the realized win rate. A model can rank perfectly
    * and still be badly calibrated (the [[btConvergence]] scaladoc's
    * "more iterations only for calibrated probabilities" point — this
    * is the audit that tells you whether you need them, and whether
    * BT's transitivity assumption fits the panel at all).
    *
    * Predictions come from the same fixed-iteration fit the pipeline
    * ships ([[btStrengths]], fit here from the pair matrix it bins);
    * each canonical pair (a<b) contributes
    * its games to the bin of pa_micro = s_a·1e6 div (s_a+s_b), bin =
    * min(pa_micro·bins div 1e6, bins−1). Output: one row per occupied
    * bin (bin, n_pairs, n_games, pred_micro = games-weighted mean
    * prediction, actual_micro = realized win-rate of a) — calibrated
    * fits put pred ≈ actual in every bin.
    *
    * Scale: the pair matrix is ≤ |items|² and the strengths table
    * |items|-sized — two item-keyed joins (broadcast when items fit)
    * and one ≤ bins-row aggregate; the corpus is touched exactly once,
    * by the one [[pairStats]] aggregate that both the fit and the bins
    * read.
    */
  def btCalibration(
      games: DataFrame, winnerCol: String, loserCol: String,
      iterations: Int = 4, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"btCalibration: need at least 2 bins, got $bins")
    require(iterations >= 1, "btCalibration: need at least one iteration")
    val (pairs, directed, totals) =
      btSetupFromPairs(pairStats(games, winnerCol, loserCol), 1L)
    val strengths = btRun(directed, totals, iterations, None)._1
      .select(col("item"), col("strength_micro"))
    pairs
      .join(strengths.select(col("item").as("item_a"),
        col("strength_micro").as("__sa")), Seq("item_a"))
      .join(strengths.select(col("item").as("item_b"),
        col("strength_micro").as("__sb")), Seq("item_b"))
      .withColumn("pa_micro", expr("(__sa * 1000000L) div (__sa + __sb)"))
      .withColumn("bin",
        least(expr(s"(pa_micro * ${bins}L) div 1000000L"), lit(bins - 1L)))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("games")).as("n_games"),
        sum(expr("pa_micro * games")).as("__pw"),
        sum(col("wins_a")).as("__wa"))
      .select(col("bin"), col("n_pairs"), col("n_games"),
        expr("__pw div n_games").as("pred_micro"),
        expr("(__wa * 1000000L) div n_games").as("actual_micro"))
  }

  /** Pair-coverage audit over a preference tournament — the
    * trust-the-fit precondition [[btStrengths]]' scaladoc assumes: BT
    * identifies strengths only up to connected components, and a
    * sparse pair matrix (few observed pairs, items with almost no
    * games) makes the ranking an artifact of WHO happened to play. One
    * row: (n_items, n_pairs_observed, n_pairs_possible = n(n−1)/2,
    * coverage_micro = observed·1e6 div possible — NULL when n < 2,
    * n_items_under_min = items with fewer than `minGames` games).
    *
    * Overflow: n(n−1) needs n ≲ 3e9 items — not a constraint any
    * leaderboard meets. Scale: the two corpus-sized aggregates the BT
    * fit already runs (item stats + pair matrix), then 1-row algebra.
    */
  def coverageAudit(
      games: DataFrame, winnerCol: String, loserCol: String,
      minGames: Long = 3L): DataFrame = {
    require(minGames >= 1, "coverageAudit: minGames must be >= 1")
    val items = itemStats(games, winnerCol, loserCol)
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(when(col("games") < minGames, 1L)), lit(0L))
          .as("n_items_under_min"))
    val pairs = pairStats(games, winnerCol, loserCol)
      .agg(count(lit(1)).as("n_pairs_observed"))
    items.crossJoin(broadcast(pairs))
      .withColumn("n_pairs_possible", expr("(n_items * (n_items - 1L)) div 2L"))
      .withColumn("coverage_micro",
        when(col("n_items") >= 2L,
          expr("(n_pairs_observed * 1000000L) div n_pairs_possible")))
      .select(col("n_items"), col("n_pairs_observed"), col("n_pairs_possible"),
        col("coverage_micro"), col("n_items_under_min"))
  }

  /** Expected calibration error over [[btCalibration]]'s bins — the
    * one-number form of the calibration audit (Naeini 2015's ECE,
    * games-weighted): ece_micro = Σ_b n_games_b·|pred_b − actual_b|
    * div Σ_b n_games_b, plus the worst single bin (max_gap_micro, the
    * MCE). Output: one row (n_bins = occupied bins, n_games,
    * ece_micro — NULL on zero games, max_gap_micro). The scalar a
    * nightly job thresholds on; the per-bin table is the diagnosis.
    *
    * Scale: [[btCalibration]]'s cost plus one ≤ bins-row aggregate.
    */
  def btCalibrationError(
      games: DataFrame, winnerCol: String, loserCol: String,
      iterations: Int = 4, bins: Int = 10): DataFrame =
    btCalibration(games, winnerCol, loserCol, iterations, bins)
      .agg(
        count(lit(1)).as("n_bins"),
        coalesce(sum(col("n_games")), lit(0L)).as("n_games"),
        coalesce(sum(abs(col("pred_micro") - col("actual_micro")) * col("n_games")),
          lit(0L)).as("__gap"),
        coalesce(max(abs(col("pred_micro") - col("actual_micro"))), lit(0L))
          .as("max_gap_micro"))
      .select(col("n_bins"), col("n_games"),
        when(col("n_games") > 0L, expr("__gap div n_games")).as("ece_micro"),
        col("max_gap_micro"))

  /** Pairwise rater-agreement matrix — the screening view OVER the
    * panel before [[cohenKappa]]'s chance-corrected deep dive on a
    * chosen pair: per unordered rater pair, the share of co-rated
    * items where their (collapsed) labels matched. Output: one row per
    * co-rating pair (rater_a < rater_b, n_items, n_agree,
    * agree_micro). Pairs with no co-rated items simply don't appear.
    *
    * Scale: ONE corpus-sized (item, rater) collapse (materialized
    * once), self-joined on item — per-item cost is panel², and panels
    * are people (dozens), never rows; the rollup is ≤ |raters|² rows.
    * The panel² term is where this stops being free: RaterProbe
    * measures the curve (SCALE.md §6o — per-item pair rows grow
    * quadratically in the per-item panel width), so `maxPanel` guards
    * it in-plan — an item co-rated by more than `maxPanel` raters
    * raises loudly instead of silently fanning |items|·panel² rows
    * (a "panel" that wide is almost always an item-key bug, not a
    * review process). 0 disables the guard.
    */
  def raterAgreementMatrix(
      ratings: DataFrame, itemCol: String, raterCol: String,
      labelCol: String, maxPanel: Int = 4096): DataFrame = {
    val one0 = collapseRatings(ratings, itemCol, raterCol, labelCol)
    // the guard rides inside the consumed rater column so it survives
    // optimization and fires before the self-join fans out
    val one = (if (maxPanel > 0) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("item"))
      one0.withColumn("rater",
        when(count(lit(1)).over(w) > maxPanel,
          raise_error(concat(
            lit(s"raterAgreementMatrix: an item has more than $maxPanel raters ("),
            count(lit(1)).over(w),
            lit(") - likely an item-key bug; raise maxPanel to override")))
            .cast(one0.schema("rater").dataType))
          .otherwise(col("rater")))
    } else one0)
      .localCheckpoint(eager = false) // both sides of the self-join
    one.select(col("item"), col("rater").as("rater_a"), col("label").as("__la"))
      .join(one.select(col("item"), col("rater").as("rater_b"),
        col("label").as("__lb")), Seq("item"))
      .filter(col("rater_a") < col("rater_b"))
      .groupBy(col("rater_a"), col("rater_b"))
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(when(col("__la") === col("__lb"), 1L)), lit(0L)).as("n_agree"))
      .withColumn("agree_micro", expr("(n_agree * 1000000L) div n_items"))
  }

  /** Verbosity-bias audit over pairwise preference data — the known
    * RLHF failure mode: raters (and reward models trained on them)
    * systematically prefer the LONGER response, and a reward model fit
    * on biased pairs learns length, not quality. Joins each game's two
    * sides to a per-item length table and reports how often the longer
    * side won.
    *
    * Output: one row (n_games = games with both lengths known,
    * n_len_ties = equal-length games (excluded from the rate),
    * n_longer_wins, longer_win_micro = n_longer_wins·1e6 div
    * (n_games − n_len_ties) — NULL when every game ties,
    * delta_sum = Σ (winner_len − loser_len) exact,
    * mean_delta_micro = delta_sum·1e6 div n_games, NULL on 0 games).
    * An unbiased panel sits near 500000 micro; the audit's job is the
    * distance from it. Spark `div` truncates toward zero — an oracle
    * must sign-factor mean_delta_micro (delta_sum can be negative).
    *
    * Scale: two item-keyed equi-joins of the games against a
    * two-column (item, len) table (broadcast when items fit — they are
    * model/response ids, not the corpus) feeding ONE 1-row aggregate.
    * Games missing either side's length drop (inner join): the audit
    * covers the measurable pairs by definition.
    */
  def lengthBiasAudit(
      games: DataFrame, lengths: DataFrame,
      winnerCol: String, loserCol: String,
      itemCol: String, lenCol: String): DataFrame = {
    val len = lengths.select(graft.ops.Cleaning.qcol(itemCol).as("__it"),
      graft.ops.Cleaning.qcol(lenCol).cast("long").as("__len"))
    val joined = games
      .select(graft.ops.Cleaning.qcol(winnerCol).as("__w"),
        graft.ops.Cleaning.qcol(loserCol).as("__l"))
      .join(len.select(col("__it").as("__w"), col("__len").as("__wlen")), Seq("__w"))
      .join(len.select(col("__it").as("__l"), col("__len").as("__llen")), Seq("__l"))
    joined.agg(
      count(lit(1)).as("n_games"),
      coalesce(sum(when(col("__wlen") === col("__llen"), 1L)), lit(0L)).as("n_len_ties"),
      coalesce(sum(when(col("__wlen") > col("__llen"), 1L)), lit(0L)).as("n_longer_wins"),
      coalesce(sum(col("__wlen") - col("__llen")), lit(0L)).as("delta_sum"))
      .select(col("n_games"), col("n_len_ties"), col("n_longer_wins"),
        when(col("n_games") > col("n_len_ties"),
          expr("(n_longer_wins * 1000000L) div (n_games - n_len_ties)"))
          .as("longer_win_micro"),
        col("delta_sum"),
        when(col("n_games") > 0L, expr("(delta_sum * 1000000L) div n_games"))
          .as("mean_delta_micro"))
  }

  /** Majority-vote consensus label per item with the deterministic
    * MIN-label tie rule — the panel→gold-label election every
    * supervised pipeline runs before training on rated data. Output:
    * (item, n_ratings, consensus_label, votes, share_micro =
    * votes·1e6 div n_ratings).
    *
    * Scale: one (item, label) vote aggregate materialized once, one
    * item-keyed max join — the election is an aggregate comparison,
    * never a per-item window sort.
    */
  def consensusLabels(
      ratings: DataFrame, itemCol: String, raterCol: String,
      labelCol: String): DataFrame = {
    val nik = labelCounts(ratings, itemCol, raterCol, labelCol, "votes")
    val byItem = nik.groupBy(col("item"))
      .agg(sum(col("votes")).as("n_ratings"), max(col("votes")).as("__top"))
    nik.join(byItem, Seq("item"))
      .filter(col("votes") === col("__top"))
      .groupBy(col("item"), col("n_ratings"), col("votes"))
      .agg(min(col("label")).as("consensus_label"))
      .select(col("item"), col("n_ratings"), col("consensus_label"),
        col("votes"),
        expr("(votes * 1000000L) div n_ratings").as("share_micro"))
  }

  /** Per-rater agreement against the [[consensusLabels]] election —
    * the "which rater is noise" audit: each rater's share of items where
    * their (collapsed) label matched the consensus. A rater's own vote
    * counts toward the consensus they are scored against — the
    * standard leave-none-out form; with panels of 3+ the self-vote
    * can't flip a majority on its own. Output: (rater, n_items,
    * n_agree, agree_micro).
    *
    * Scale: the collapse runs twice (once under the election, once
    * under the scoring join) — two corpus-sized aggregates total; the
    * join itself is item-keyed against the items-sized election.
    */
  def raterConsensusAgreement(
      ratings: DataFrame, itemCol: String, raterCol: String,
      labelCol: String): DataFrame = {
    val one = collapseRatings(ratings, itemCol, raterCol, labelCol)
    val cons = consensusLabels(ratings, itemCol, raterCol, labelCol)
      .select(col("item"), col("consensus_label"))
    one.join(cons, Seq("item"))
      .groupBy(col("rater"))
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(when(col("label") === col("consensus_label"), 1L)), lit(0L))
          .as("n_agree"))
      .withColumn("agree_micro", expr("(n_agree * 1000000L) div n_items"))
  }

  /** Per-wave Cohen's kappa with wave-over-wave drift — "is our
    * labeling pipeline degrading": [[cohenKappa]]'s statistic grouped
    * by a wave column, each wave joined to its PREDECESSOR wave's
    * kappa for the delta (the [[graft.bht.Trend.waveOverWave]] shape).
    * Waves order by the column's natural ordering — use sortable wave
    * labels (ints, ISO dates).
    *
    * Output: one row per wave (wave, n_items, n_agree, po_micro,
    * pe_micro, kappa_micro, prev_kappa_micro, delta_micro) —
    * first-wave prev/delta NULL.
    *
    * Scale: the per-item collapse and the a⋈b overlap carry the wave
    * key through the same chain as [[cohenKappa]] (one corpus-sized
    * aggregate, materialized once, then label-cardinality-sized);
    * the predecessor lookup is a |waves|²-bounded self-join on the
    * summary frame — waves are releases (dozens), never rows, so no
    * window and no global sort.
    */
  def kappaDrift(
      ratings: DataFrame, itemCol: String, raterCol: String, labelCol: String,
      raterA: String, raterB: String, waveCol: String): DataFrame = {
    require(raterA != raterB, "kappaDrift: raters must differ")
    val k = kappaCore(ratings, itemCol, raterCol, labelCol, raterA, raterB, Some(waveCol))
      .localCheckpoint(eager = false) // summary frame, referenced by the self-join below
    val prevWave = k.select(col("wave")).as("c")
      .join(k.select(col("wave").as("__w2")).as("p"), col("__w2") < col("wave"))
      .groupBy(col("wave")).agg(max(col("__w2")).as("__prev_wave"))
    k.join(prevWave, Seq("wave"), "left")
      .join(k.select(col("wave").as("__prev_wave"),
        col("kappa_micro").as("prev_kappa_micro")), Seq("__prev_wave"), "left")
      .select(col("wave"), col("n_items"), col("n_agree"), col("po_micro"),
        col("pe_micro"), col("kappa_micro"), col("prev_kappa_micro"),
        (col("kappa_micro") - col("prev_kappa_micro")).as("delta_micro"))
  }

  /** One MM iteration: d-sum on the directed pair matrix, the smoothed
    * win update, and the max-divisor rescale — returning the next
    * (item, s_micro) frame, localCheckpointed.
    *
    * Checkpoint EVERY iteration: the double reference (s_i, s_j)
    * re-executes the whole un-checkpointed segment 2x per step, and
    * the measured every-2nd variant was ~1.6x SLOWER (5.5 s vs 3.4
    * at sf0.1) — the re-executed joins cost more than the saved
    * materialization barriers. Same conclusion as HITS.
    *
    * Floor at 1 micro: the max-divisor rescale truncates an item
    * with s_raw < mx/1e6 to ZERO, and a later pair of two
    * zero-strength items would divide by (si + sj) = 0 — ANSI Spark
    * throws, DuckDB `//` yields NULL, divergent failure under
    * extreme win-rate skew. One micro keeps si + sj > 0 invariant
    * and is below the model's resolution anyway.
    */
  private def btStep(
      directed: DataFrame, totals: DataFrame, s: DataFrame): DataFrame = {
    val d = directed
      .join(s.select(col("item").as("i"), col("s_micro").as("si")), "i")
      .join(s.select(col("item").as("j"), col("s_micro").as("sj")), "j")
      .select(col("i").as("item"),
        expr("(n * 1000000000000L) div (si + sj)").as("term"))
      .groupBy(col("item")).agg(sum(col("term")).as("d"))
    val raw = totals.join(d, Seq("item"))
      .select(col("item"), expr("(w_smooth * 1000000000000L) div d").as("s_raw"))
    val mx = raw.agg(max(col("s_raw")).as("mx"))
    raw.crossJoin(broadcast(mx))
      .select(col("item"),
        expr("greatest((s_raw * 1000000L) div mx, 1L)").as("s_micro"))
      .localCheckpoint(eager = false)
  }

  /** Per-iteration convergence audit of [[btStrengths]] — the measured
    * curve behind the default iteration count, the [[Graph]] family's
    * GraphProbe evidence re-expressed for preferences: for each MM
    * iteration, the largest absolute strength move across items,
    * `max_i |s_i^t − s_i^{t−1}|`, in micro units. The curve answers
    * "how many iterations does THIS corpus need?" with data instead of
    * a blind constant. Output: (iteration, max_delta_micro).
    *
    * Scale: the same one corpus-sized [[pairStats]] aggregate as
    * [[btStrengths]]; each delta row is ONE |items|-row join+aggregate
    * over frames the checkpointed loop already materialized —
    * iterations·O(|items|) extra work, summary-sized output.
    */
  def btConvergence(
      games: DataFrame, winnerCol: String, loserCol: String,
      iterations: Int = 8, countDiv: Long = 1L): DataFrame = {
    require(iterations >= 1, "btConvergence: need at least one iteration")
    require(countDiv >= 1, "btConvergence: countDiv must be >= 1")
    val (_, directed, totals) =
      btSetupFromPairs(pairStats(games, winnerCol, loserCol), countDiv)
    btRun(directed, totals, iterations, None)._2()
  }
}
