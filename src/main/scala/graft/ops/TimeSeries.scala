package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.Cleaning.qcol

/** Keyed time-series operators over an event stream — the feature
  * engineering a metrics/training pipeline runs between raw events and
  * a model table: fixed-interval resampling with gap-fill, per-key lag
  * and rolling-window features, and a rolling relative-deviation
  * outlier flag (beyond-reference, SURVEY §7.4 events family).
  *
  * Determinism contract (the toolkit every oracle-gated operator here
  * shares): values enter as HALF-UP micro-scaled longs
  * (`floor(v·1e6 + 0.5)` — one IEEE multiply+add per row, identical in
  * any engine), every sum/min/max is integer-exact and
  * order-invariant, and every window orders by a UNIQUE key
  * (`(ts, event_id)` or the bucket index), so frames — and therefore
  * results — are engine- and partitioning-independent.
  */
object TimeSeries {

  /** Half-up micro-scaling of a double value column (the shared
    * parity primitive: floor is exact on longs, the multiply+add is
    * one fixed IEEE expression both engines evaluate identically). */
  def microVal(c: Column): Column =
    floor(c.cast("double") * lit(1000000.0) + lit(0.5)).cast("long")

  /** FLOOR division of a long epoch column (by NAME — composed via
    * `expr`, the repo's integer-div idiom) by a positive literal
    * interval — integer-exact (never through a double) and uniform
    * across the 1970 boundary: Spark's `div` truncates toward zero, so
    * a pre-1970 timestamp would otherwise share bucket 0 with the
    * first post-1970 interval AND disagree with DuckDB `//` (floor).
    * The negative branch is the exact identity
    * `floor(a/d) = -((-a + d-1) div d)` for d > 0. */
  def floorDivEpochExpr(colName: String, d: Long): Column = {
    require(d > 0, s"floorDivEpochExpr: divisor must be positive, got $d")
    expr(s"CASE WHEN $colName >= 0L THEN $colName div ${d}L " +
      s"ELSE -((-$colName + ${d - 1}L) div ${d}L) END")
  }

  /** Fixed-interval resample with gap-fill and forward-fill: buckets
    * each key's events into `intervalSec`-wide bins (bucket index =
    * `epoch_us div (intervalSec·1e6)`), then materializes EVERY bucket
    * between the key's first and last observation — gap buckets get
    * `n_events = 0`, a NULL bucket sum, and the last observed sum
    * carried forward in `v_ffill_micro` (NULL before the first
    * observation, which cannot happen here since lattices start at an
    * observed bucket).
    *
    * Forward-fill is the integer "group of last non-null" identity —
    * `grp = count(v) OVER (key ORDER BY bucket)` then
    * `max(v) OVER (key, grp)` — rather than an IGNORE NULLS window
    * (not portable across engines): within a grp exactly one row is
    * non-null, so `max` selects it exactly.
    *
    * Scale: one (key, bucket) aggregate, one per-key min/max aggregate,
    * a `sequence()` lattice explode, a co-partitioned left join back,
    * and two key-partitioned windows ordered by the unique bucket
    * index. The lattice is (span / interval) rows per key — the caller
    * picks the interval, and `maxBucketsPerKey` raise_errors (in-plan,
    * before any explode materializes) on a key whose span would explode
    * the lattice: at 100 TB a daily grid over years is ≤ ~4k rows per
    * key, metadata-sized next to the events themselves.
    */
  def resampleGapFill(
      events: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      intervalSec: Long, maxBucketsPerKey: Long = 100000L): DataFrame = {
    require(intervalSec > 0, s"resampleGapFill: intervalSec must be positive")
    require(maxBucketsPerKey > 0, s"resampleGapFill: maxBucketsPerKey must be positive")
    val ivUs = intervalSec * 1000000L
    val base = events
      .filter(qcol(keyCol).isNotNull && qcol(tsCol).isNotNull)
      .select(qcol(keyCol).as("key"), unix_micros(qcol(tsCol)).as("__us"),
        microVal(qcol(valueCol)).as("vm"))
      .withColumn("bucket", floorDivEpochExpr("__us", ivUs))
    val obs = base.groupBy(col("key"), col("bucket"))
      .agg(count(lit(1)).as("n_events"), sum(col("vm")).as("v_sum_micro"))
    // the guard lives INSIDE the consumed `hi` expression — a separate
    // audit column would be pruned by the optimizer and never fire
    val guardedHi =
      when(col("hi") - col("lo") >= maxBucketsPerKey,
        raise_error(concat(lit("resampleGapFill: key "), col("key").cast("string"),
          lit(s" spans more than $maxBucketsPerKey buckets — widen intervalSec")))
          .cast("long"))
        .otherwise(col("hi"))
    val lattice = obs.groupBy(col("key"))
      .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
      .select(col("key"), explode(sequence(col("lo"), guardedHi)).as("bucket"))
    val joined = lattice.join(obs, Seq("key", "bucket"), "left")
    val wOrd = Window.partitionBy(col("key")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    joined
      .withColumn("__grp", count(col("v_sum_micro")).over(wOrd))
      .withColumn("v_ffill_micro",
        max(col("v_sum_micro")).over(Window.partitionBy(col("key"), col("__grp"))))
      .select(col("key"), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("v_sum_micro"), col("v_ffill_micro"))
  }

  /** Per-key lag / delta / rolling-window features over the event
    * stream ordered by the UNIQUE (ts, idCol) pair: previous value,
    * value delta, inter-arrival gap in microseconds, and the rolling
    * count/sum/min/max over the `rollN` PRECEDING events (current row
    * excluded — the leakage-safe frame a feature pipeline needs: a
    * feature computed at event time must not see the event itself).
    * All outputs are exact longs on micro-scaled values.
    *
    * API contract: `idCol` must be unique within a key (event ids are)
    * — it is the deterministic tie-break for same-timestamp events.
    *
    * Scale: ONE key-partitioned window pass (all features share the
    * frame); state is the rollN-row sliding frame. Never global.
    */
  def lagFeatures(
      events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, rollN: Int = 5): DataFrame = {
    require(rollN >= 1, s"lagFeatures: rollN must be >= 1, got $rollN")
    val base = events
      .filter(qcol(keyCol).isNotNull && qcol(tsCol).isNotNull)
      .select(qcol(keyCol).as("key"), qcol(idCol).as("id"),
        unix_micros(qcol(tsCol)).as("us"),
        microVal(qcol(valueCol)).as("vm"))
    val ord = Window.partitionBy(col("key")).orderBy(col("us"), col("id"))
    val roll = ord.rowsBetween(-rollN, -1)
    base
      .withColumn("lag_vm", lag(col("vm"), 1).over(ord))
      .withColumn("delta_vm", col("vm") - col("lag_vm"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(ord))
      .withColumn("roll_n", count(col("vm")).over(roll))
      .withColumn("roll_sum", sum(col("vm")).over(roll))
      .withColumn("roll_min", min(col("vm")).over(roll))
      .withColumn("roll_max", max(col("vm")).over(roll))
  }

  /** Weekly seasonal profile per key: count/sum/mean of the value by
    * day-of-week (0 = Monday … 6 = Sunday; epoch day 0 = Thursday = 3,
    * floor-div + pmod so pre-1970 timestamps land on the right
    * weekday too). The baseline behind [[seasonalAnomaly]], and the
    * "is our traffic weekday-shaped" audit on its own — a flat profile
    * means weekly deseasonalization is a no-op; a 10× weekend dip
    * means every naive day-over-day comparison lies twice a week.
    *
    * Output: (key, dow, n, sum_micro, mean_micro = sum div n — Spark
    * div truncates toward zero; an oracle sign-factors). One hash
    * aggregate onto the (key, dow) key; ≤ 7·|keys| rows out.
    */
  def seasonalProfile(
      events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame =
    seasonalBase(events, keyCol, tsCol, valueCol)
      .groupBy(col("key"), col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("vm")).as("sum_micro"))
      .withColumn("mean_micro", expr("sum_micro div n"))

  /** Deseasonalized anomaly flags: each event compared against its
    * (key, day-of-week) PEERS — the leave-one-out profile (peer_n =
    * n−1, peer_sum = sum−v), so an extreme value never inflates its
    * own baseline. Same divisionless integer inequality as
    * [[rollingDeviation]]: |v·peer_n − peer_sum|·100 >
    * thresholdPct·peer_abs_sum, gated on peer_n ≥ minObs. Where
    * rollingDeviation asks "is this event off its RECENT trajectory",
    * this asks "is this Monday off from other Mondays" — the two
    * compose into the standard ops-anomaly pair.
    *
    * Scale: ONE (key, dow) hash aggregate (≤ 7·|keys| rows, broadcast
    * back over the events) — no window at all, unlike the rolling
    * form; the corpus is scanned twice (profile + scoring), both
    * narrow.
    */
  def seasonalAnomaly(
      events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, thresholdPct: Int = 200, minObs: Int = 3): DataFrame = {
    require(thresholdPct > 0, "seasonalAnomaly: thresholdPct must be positive")
    require(minObs >= 1, "seasonalAnomaly: minObs must be >= 1")
    val base = seasonalBase(events, keyCol, tsCol, valueCol,
      extra = Seq(idCol -> "id"))
    val prof = base.groupBy(col("key"), col("dow"))
      .agg(count(lit(1)).as("__n"), sum(col("vm")).as("__sum"),
        sum(abs(col("vm"))).as("__abs"))
    base.join(broadcast(prof), Seq("key", "dow"))
      .withColumn("peer_n", col("__n") - 1L)
      .withColumn("peer_sum", col("__sum") - col("vm"))
      .withColumn("peer_abs_sum", col("__abs") - abs(col("vm")))
      .withColumn("dev100",
        abs(col("vm") * col("peer_n") - col("peer_sum")) * lit(100L))
      .withColumn("is_anomaly",
        col("peer_n") >= minObs &&
          col("dev100") > lit(thresholdPct.toLong) * col("peer_abs_sum"))
      .select(col("key"), col("id"), col("dow"), col("vm"), col("peer_n"),
        col("peer_sum"), col("dev100"), col("is_anomaly"))
  }

  /** Shared (key, dow, vm) projection of the seasonal pair: micro
    * value, floor-div epoch day, pmod weekday (Monday = 0). */
  private def seasonalBase(
      events: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      extra: Seq[(String, String)] = Nil): DataFrame =
    events
      .filter(qcol(keyCol).isNotNull && qcol(tsCol).isNotNull)
      .select((Seq(qcol(keyCol).as("key"), unix_micros(qcol(tsCol)).as("us"),
        microVal(qcol(valueCol)).as("vm")) ++
        extra.map { case (c, a) => qcol(c).as(a) }): _*)
      .withColumn("day", floorDivEpochExpr("us", 86400000000L))
      .withColumn("dow", pmod(col("day") + lit(3L), lit(7L)).cast("long"))

  /** Rolling relative-deviation outlier flag — the streaming-friendly
    * anomaly screen over [[lagFeatures]]'s frame: an event is flagged
    * when its value deviates from the rolling mean of the previous
    * `rollN` events by more than `thresholdPct` percent of the rolling
    * mean ABSOLUTE value. Entirely in integers — the test
    * `|v·n − Σv| · 100 > pct · Σ|v|` is the deviation inequality with
    * both sides multiplied by `n·100`, so no division ever happens and
    * engines agree bitwise. Events with fewer than `minObs` prior
    * observations are never flagged (is_anomaly false, audit columns
    * still emitted).
    *
    * Scale: the same single key-partitioned window pass as
    * [[lagFeatures]]; magnitudes bounded by `rollN · max|v| · 100` —
    * micro-scaled values to ~9e16 before a long would overflow.
    */
  def rollingDeviation(
      events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, rollN: Int = 5, thresholdPct: Int = 200,
      minObs: Int = 3): DataFrame = {
    require(thresholdPct > 0, "rollingDeviation: thresholdPct must be positive")
    require(minObs >= 1 && minObs <= rollN,
      s"rollingDeviation: need 1 <= minObs <= rollN, got $minObs / $rollN")
    val base = events
      .filter(qcol(keyCol).isNotNull && qcol(tsCol).isNotNull)
      .select(qcol(keyCol).as("key"), qcol(idCol).as("id"),
        unix_micros(qcol(tsCol)).as("us"),
        microVal(qcol(valueCol)).as("vm"))
    val ord = Window.partitionBy(col("key")).orderBy(col("us"), col("id"))
    val roll = ord.rowsBetween(-rollN, -1)
    base
      .withColumn("roll_n", count(col("vm")).over(roll))
      .withColumn("roll_sum", sum(col("vm")).over(roll))
      .withColumn("roll_abs_sum", sum(abs(col("vm"))).over(roll))
      .withColumn("dev100",
        abs(col("vm") * col("roll_n") - col("roll_sum")) * lit(100L))
      .withColumn("is_anomaly",
        col("roll_n") >= minObs &&
          col("dev100") > lit(thresholdPct.toLong) * col("roll_abs_sum"))
      .select(col("key"), col("id"), col("vm"), col("roll_n"),
        col("roll_sum"), col("roll_abs_sum"), col("dev100"), col("is_anomaly"))
  }

  /** Single-changepoint scan per key — "WHEN did this metric shift":
    * the binary-segmentation first step / CUSUM-range statistic, exact
    * in integers. For each candidate split after ordered position t,
    * the scaled statistic D_t = |S_t·N − t·S| (= t·(N−t)·|mean_before −
    * mean_after|, all longs) peaks where the level shift is — the
    * operator returns the argmax split (smallest t on ties, so a
    * flat series deterministically reports position 1 with D = 0: zero
    * `cusum_abs` MEANS "no shift evidence", it is not a changepoint)
    * plus both segment means. The drift-ops complement of
    * [[graft.ops.Stats.groupTrend]]: trend says "is it moving",
    * this says "where did it jump" — the feed for "which filter/config
    * deploy broke the metric" triage.
    *
    * Input is an already-bucketed series (key, bucket, value) — the
    * [[resampleGapFill]] / daily-count shape; duplicate (key, bucket)
    * rows pre-sum so the scan is total and deterministic. Keys with a
    * single point emit NULL split columns in-band.
    *
    * Scale: one (key, bucket) pre-aggregate, per-key cumulative
    * windows ordered by the unique bucket index (series length per
    * key is grid-bounded — the resample family's contract; the
    * `maxPointsPerKey` guard raise_errors in-plan past it), and ONE
    * packed-struct argmax aggregate — no self-join over splits, no
    * global sort. ANSI guards the S_t·N product loudly; rescale the
    * value column upstream past ~9e18/N total mass (the countDiv
    * move).
    */
  def changepointScan(
      series: DataFrame, keyCol: String, bucketCol: String, valueCol: String,
      maxPointsPerKey: Long = 100000L): DataFrame = {
    require(maxPointsPerKey >= 2, "changepointScan: maxPointsPerKey must be >= 2")
    val k = qcol(keyCol); val b = qcol(bucketCol); val v = qcol(valueCol)
    val pts = series.filter(k.isNotNull && b.isNotNull && v.isNotNull)
      .select(k.as("key"), b.cast("long").as("b"), v.cast("long").as("x"))
      .groupBy(col("key"), col("b")).agg(sum(col("x")).as("x"))
    val w = Window.partitionBy(col("key")).orderBy(col("b"))
    val wAll = Window.partitionBy(col("key"))
    val cum = pts
      .withColumn("t",
        when(row_number().over(w) > maxPointsPerKey,
          raise_error(concat(lit(s"changepointScan: key exceeds $maxPointsPerKey points: "),
            col("key").cast("string"))).cast("int"))
          .otherwise(row_number().over(w)).cast("long"))
      .withColumn("st", sum(col("x")).over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("x")).over(wAll))
    // packed argmax: (D desc, t asc) via lexicographic struct max —
    // both engines elect the identical split
    val best = cum.filter(col("t") < col("n"))
      .withColumn("d", abs(col("st") * col("n") - col("t") * col("s")))
      .groupBy(col("key"))
      .agg(max(struct(col("d"), (-col("t")).as("nt"), col("t").as("bt"),
        col("b").as("bb"), col("st").as("bst"))).as("m"))
      .select(col("key"), col("m.d").as("cusum_abs"),
        col("m.bt").as("n_before"), col("m.bb").as("split_bucket"),
        col("m.bst").as("__st"))
    val tot = pts.groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("__s"))
    tot.join(best, Seq("key"), "left")
      .select(col("key").as(keyCol), col("n"), col("cusum_abs"),
        col("split_bucket"), col("n_before"),
        (col("n") - col("n_before")).as("n_after"),
        // segment means through decimal(38) — the long product caps a
        // segment at ~9e12 micro-mass otherwise (the DiD sf1 lesson)
        expr("CASE WHEN __st < 0 " +
          "THEN -((-CAST(__st AS DECIMAL(38,0)) * 1000000) div n_before) " +
          "ELSE (CAST(__st AS DECIMAL(38,0)) * 1000000) div n_before END")
          .as("mean_before_micro"),
        expr("CASE WHEN (__s - __st) < 0 " +
          "THEN -((-CAST(__s - __st AS DECIMAL(38,0)) * 1000000) div (n - n_before)) " +
          "ELSE (CAST(__s - __st AS DECIMAL(38,0)) * 1000000) div (n - n_before) END")
          .as("mean_after_micro"))
  }
}
