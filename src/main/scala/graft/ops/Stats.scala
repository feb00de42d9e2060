package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Summary statistics (describe-style) for a numeric column — a natural
  * extension of the reference's KPI surface (beyond-reference, like the
  * §7.4 family). Long format (metric, value).
  *
  * Uses exact `percentile` (sort-based, linear interpolation — the same
  * definition as DuckDB's quantile_cont, so oracle-able); avoids
  * stddev (whose merge order makes the last bits engine-dependent).
  * Scale note: exact percentiles sort per group — for 100 TB inputs
  * prefer `approx_percentile`, which is one pass; exact is the
  * correctness baseline.
  */
object Stats {

  def describe(df: DataFrame, column: String): DataFrame = {
    val c = Cleaning.toNumeric(Cleaning.qcol(column))
    val agged = df.agg(
      count(c).cast("double").as("count"),
      avg(c).as("mean"),
      min(c).as("min"),
      percentile(c, lit(0.25)).as("p25"),
      percentile(c, lit(0.5)).as("p50"),
      percentile(c, lit(0.75)).as("p75"),
      max(c).as("max"))
    val metrics = Seq("count", "mean", "min", "p25", "p50", "p75", "max")
    val pairs = metrics.map(m => struct(lit(m).as("metric"), col(m).cast("double").as("value")))
    agged.select(explode(array(pairs: _*)).as("kv"))
      .select(col("kv.metric").as("metric"), col("kv.value").as("value"))
  }

  /** Z-score normalization of a numeric column, optionally per group —
    * the feature-prep step before clustering/regression/embedding-side
    * models. Stats come from ONE aggregate (broadcast back for the
    * global case, group-keyed join otherwise), then a narrow map.
    *
    * Determinism contract (`exact = true`, the default): the input
    * column must be of an INTEGRAL type — the moments are exact long
    * sums, so mean/std/z are single IEEE expressions the oracle
    * reproduces bit-for-bit (double SUM aggregation order never
    * enters). A fractional column is REJECTED rather than silently
    * truncated: pass `exact = false` to compute double moments, which
    * are correct for any numeric column but only deterministic up to
    * aggregation order (the production path for real-valued features;
    * spec-graded, not oracle-hashed).
    * Formula written identically on both sides:
    * mean = s/n; var = (ss - s*s/n)/(n-1); z = (x - mean)/sqrt(var).
    * Groups with n < 2 or zero variance get null z (guarded the same
    * way in SQL).
    */
  def zscore(
      df: DataFrame, column: String, groupCols: Seq[String] = Nil,
      outCol: String = "z", exact: Boolean = true): DataFrame = {
    if (exact) {
      val dt = df.schema(column).dataType
      require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
        s"zscore(exact = true) requires an integral column for exact long moments; " +
          s"'$column' is ${dt.typeName} — pass exact = false for double moments " +
          "(correct, but not aggregation-order deterministic)")
    }
    val x = Cleaning.qcol(column).cast("double")
    val m = if (exact) Cleaning.qcol(column).cast("long") else x
    val aggs = Seq(
      sum(m).as("__s"),
      sum(m * m).as("__ss"),
      count(Cleaning.qcol(column)).as("__n"))
    val stats =
      if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(groupCols.map(Cleaning.qcol): _*).agg(aggs.head, aggs.tail: _*)
    val joined =
      if (groupCols.isEmpty) df.crossJoin(broadcast(stats))
      else df.join(stats, groupCols)
    val mean = col("__s").cast("double") / col("__n")
    val variance = (col("__ss").cast("double") - col("__s").cast("double") * col("__s") / col("__n")) /
      (col("__n") - 1)
    joined
      .withColumn(outCol,
        when(col("__n") >= 2 && variance > 0, (x - mean) / sqrt(variance)))
      .drop("__s", "__ss", "__n")
  }

  /** Pairwise Pearson correlation matrix over integral columns in ONE
    * hash aggregate — the feature-audit step before model training
    * (find collinear/degenerate features). Output long format:
    * (col_a, col_b, n, r) for every unordered pair in the given column
    * order.
    *
    * Determinism contract (same as [[zscore]] exact mode): all columns
    * must be integral — the p·(p+3)/2 moments (Σx, Σx², Σxy) are exact
    * long sums, and r is a single IEEE expression both engines evaluate
    * identically:
    *   r = (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − (Σx)²)·sqrt(n·Σy² − (Σy)²))
    * Rows with a null in ANY audited column are excluded first
    * (complete-case semantics; the shared denominator n is in the
    * output). Zero variance on either side → null r. Magnitude budget
    * is the caller's: n·Σx² must stay < 2⁶³ — ANSI mode makes an
    * overflow fail loudly rather than corrupt the audit. The moment
    * values themselves stay ≤ ~2⁵³ for exact double conversion at the
    * final step (true whenever the long arithmetic doesn't overflow
    * and values are feature-sized).
    *
    * Scale: one aggregate with map-side partials over a fixed number
    * of long sums; nothing but the scan grows with rows. The pair
    * table is built from the single 1-row aggregate via explode — the
    * corpus is scanned once, not once per pair.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"corrMatrix needs at least two columns, got ${cols.size}")
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
        s"corrMatrix requires integral columns for exact long moments; '$c' is " +
          s"${dt.typeName} — cast an integer-valued column explicitly first")
    }
    val complete = df.filter(cols.map(Cleaning.qcol(_).isNotNull).reduce(_ && _))
    val xs = cols.map(c => Cleaning.qcol(c).cast("long"))
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield (i, j)
    val aggs =
      cols.indices.map(i => sum(xs(i)).as(s"__s$i")) ++
        cols.indices.map(i => sum(xs(i) * xs(i)).as(s"__q$i")) ++
        pairs.map { case (i, j) => sum(xs(i) * xs(j)).as(s"__p${i}_$j") } :+
        count(lit(1)).as("__n")
    val m = complete.agg(aggs.head, aggs.tail: _*)
    val n = col("__n").cast("double")
    def s(i: Int) = col(s"__s$i").cast("double")
    def q(i: Int) = col(s"__q$i").cast("double")
    val entries = pairs.map { case (i, j) =>
      val num = n * col(s"__p${i}_$j").cast("double") - s(i) * s(j)
      val dx = n * q(i) - s(i) * s(i)
      val dy = n * q(j) - s(j) * s(j)
      struct(
        lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        Rounding.halfUp(when(dx > 0 && dy > 0, num / (sqrt(dx) * sqrt(dy))), 9).as("r"))
    }
    m.select(col("__n").as("n"), explode(array(entries: _*)).as("__e"))
      .select(col("__e.col_a").as("col_a"), col("__e.col_b").as("col_b"),
        col("n"), col("__e.r").as("r"))
  }

  /** Column-level data-quality profile: (col_name, n_rows, n_null,
    * n_distinct) per requested column — the ingest audit an ETL
    * pipeline runs before trusting a new delivery (and the first thing
    * the reference's users eyeball in the pandas `df.info()` habit).
    *
    * Values are compared in their canonical string form so one unpivot
    * covers heterogeneous column types. Shape: explode ×|cols| then ONE
    * hash aggregate — a single pass over the data however many columns
    * are profiled; count-distinct is Spark's two-phase partial form.
    * `approx = true` swaps exact distinct for HLL `approx_count_distinct`
    * (the 100 TB default; not oracle-able, spec-covered).
    *
    * @param numericTopK when > 0, the profile additionally carries — in
    *        the SAME single aggregate pass — `p50` (the lower median of
    *        the column's integral view, via the mergeable
    *        weighted-quantile sketch) and `top_values`
    *        (array<struct<value, count, error>>, the `numericTopK` most
    *        frequent integral values via Space-Saving). Both read
    *        `try_cast(value AS BIGINT)`: non-integral columns profile
    *        to null p50 / empty top_values (their frequency audit is
    *        the two-level valueCounts path). With `sketchCapacity` ≥
    *        the column's distinct count both are EXACT and
    *        order-invariant — the oracle configuration; the default
    *        capacity is the bounded-memory 100 TB config.
    */
  def profile(df: DataFrame, cols: Seq[String], approx: Boolean = false,
      numericTopK: Int = 0, sketchCapacity: Int = 4096): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val kvs = cols.map(c => struct(
      lit(c).as("col_name"), Cleaning.qcol(c).cast("string").as("value")))
    val stacked = df.select(explode(array(kvs: _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"), col("kv.value").as("value"))
    val baseAggs = Seq(
      count(lit(1)).as("n_rows"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"),
      (if (approx) approx_count_distinct(col("value")) else countDistinct(col("value")))
        .as("n_distinct"))
    val num = col("value").try_cast("long")
    val extraAggs = if (numericTopK <= 0) Nil else Seq(
      graft.functions.Aggregates.weightedQuantileSketch(
        num, lit(1L), 0.5, sketchCapacity).as("p50"),
      graft.functions.Aggregates.heavyHitters(
        num, numericTopK, sketchCapacity).as("top_values"))
    val aggs = baseAggs ++ extraAggs
    stacked.groupBy("col_name").agg(aggs.head, aggs.tail: _*)
  }

  /** Ingest-drift audit between two deliveries of the same table
    * (survey wave-over-wave, crawl-over-crawl): per audited column,
    * the row/null/distinct counts of both sides and the null-rate
    * delta — the first check a pipeline runs on a new delivery before
    * trusting it (a column whose null rate jumped 30 points is a
    * broken extract, not data). Missing columns are NOT tolerated:
    * `profile` fails loudly on an unknown column, which is itself the
    * schema-drift signal.
    *
    * Null-rate arithmetic is exact-integer division in double — the
    * deltas are engine-deterministic (oracle-able). Scale: one
    * struct-explode aggregate pass per side + a col_name-keyed join of
    * two |cols|-row frames.
    */
  def profileDiff(
      a: DataFrame, b: DataFrame, cols: Seq[String],
      approx: Boolean = false): DataFrame = {
    val pa = profile(a, cols, approx).select(
      col("col_name"), col("n_rows").as("n_rows_a"),
      col("n_null").as("n_null_a"), col("n_distinct").as("n_distinct_a"))
    val pb = profile(b, cols, approx).select(
      col("col_name"), col("n_rows").as("n_rows_b"),
      col("n_null").as("n_null_b"), col("n_distinct").as("n_distinct_b"))
    pa.join(pb, "col_name")
      .withColumn("null_rate_delta",
        col("n_null_b").cast("double") / col("n_rows_b")
          - col("n_null_a").cast("double") / col("n_rows_a"))
  }

  /** Verdict frame gating an HLL++ distinct count
    * (`approx_count_distinct`) against the exact count —
    * the same contract as the ANN recall gates: the sketch value
    * itself is engine-specific (HLL++ register layout), so the output
    * carries the EXACT count plus a `within_tol` boolean the oracle
    * pins to TRUE. HLL++ is deterministic for a given multiset (merges
    * take per-register max — order-invariant), so the verdict is
    * re-run- and partitioning-stable. Production callers use
    * `approx_count_distinct` alone: constant memory per group and a
    * map-side-mergeable register blob vs countDistinct's full
    * key-expand shuffle — at 100 TB the difference between shuffling
    * registers and shuffling every key occurrence.
    */
  def approxDistinctGate(
      df: DataFrame, countCol: String, groupCols: Seq[String],
      rsd: Double = 0.02, relTol: Double = 0.05): DataFrame = {
    require(relTol > 0, s"relTol must be > 0, got $relTol")
    val g = groupCols.map(Cleaning.qcol)
    val c = Cleaning.qcol(countCol)
    // ONE aggregation pass carrying both counts: half the scans/shuffles
    // of an exact⋈approx join, and NULL-keyed groups survive (an
    // equi-join on the group key would silently drop them)
    df.groupBy(g: _*)
      .agg(countDistinct(c).as("n_exact"),
        approx_count_distinct(c, rsd).as("__approx"))
      .select(g ++ Seq(col("n_exact"), lit(relTol).as("rel_tol"),
        (abs(col("__approx").cast("double") - col("n_exact").cast("double")) <=
          lit(relTol) * col("n_exact").cast("double")).as("within_tol")): _*)
  }

  /** The SHIPPED approximate-percentile pass, priced as it deploys:
    * ONE hash aggregate per group computing the GK summary
    * (`approx_percentile`) alongside the exact count/min/max that ride
    * the same pass for free. [[approxPercentileGate]] is the CI form —
    * its rank-verification join re-scans the corpus against the
    * broadcast summary, a cost a production run never pays — so bench
    * rows over THIS key measure what deploys (round-12 verdict: the
    * gate key read as data-proportional at sf10 purely because the
    * verification join shipped with it). The emitted
    * `sketch_in_range` boolean (sketch value within the group's exact
    * [min, max]) is a deterministic SANITY bound, not the rank
    * guarantee — it exists to keep the sketch expression consumed (an
    * unused aggregate would be pruned and the bench would price
    * nothing) and cross-engine pinnable; the real guarantee stays
    * gated by the CI key. Output: (group..., n, lo, hi,
    * sketch_in_range).
    */
  def approxPercentileShipped(
      df: DataFrame, valueCol: String, groupCols: Seq[String],
      q: Double = 0.5, accuracy: Int = 1000): DataFrame = {
    require(q > 0 && q < 1, s"q must be in (0,1), got $q")
    require(accuracy >= 100, s"accuracy must be >= 100, got $accuracy")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(Cleaning.qcol)
    val c = Cleaning.toNumeric(Cleaning.qcol(valueCol))
    val reserved = Seq("n", "lo", "hi", "__v").filterNot(groupCols.contains)
    require(!df.columns.exists(reserved.contains),
      s"column names ${reserved.mkString(", ")} are reserved here")
    df.groupBy(g: _*)
      .agg(count(c).as("n"), min(c).as("lo"), max(c).as("hi"),
        approx_percentile(c, lit(q), lit(accuracy)).as("__v"))
      .select(g ++ Seq(col("n"), col("lo"), col("hi"),
        when(col("n") === 0, lit(true))
          .otherwise(col("__v") >= col("lo") && col("__v") <= col("hi"))
          .as("sketch_in_range")): _*)
  }

  /** Verdict frame gating `approx_percentile` (Greenwald-Khanna
    * summaries) on its actual contract — the RANK guarantee: the
    * returned element's exact rank interval must intersect
    * [floor((q−ε)·n), ceil((q+ε)·n)] with ε = 2/accuracy. Checking
    * ranks, not values, matters: an interpolated exact-percentile
    * bound is a VALUE statement the sketch never makes, and fails
    * spuriously on small or gappy groups (n = 2, values {0, 100}: the
    * sketch's 0 is rank-perfect yet sits far below the interpolated
    * 49.8). Same verdict-frame contract as [[approxDistinctGate]]:
    * the sketch value stays engine-internal; the output carries the
    * group, its non-null count, the constants, and the pinned
    * boolean. Production callers use `approx_percentile` alone:
    * fixed-size mergeable summaries vs the exact path's per-group
    * sort. The gate's second pass ranks the sketch value with one
    * conditional aggregate over a broadcast of the |groups|-row
    * summary.
    */
  def approxPercentileGate(
      df: DataFrame, valueCol: String, groupCols: Seq[String],
      q: Double = 0.5, accuracy: Int = 1000): DataFrame = {
    require(q > 0 && q < 1, s"q must be in (0,1), got $q")
    require(accuracy >= 100, s"accuracy must be >= 100, got $accuracy")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val eps = 2.0 / accuracy
    val g = groupCols.map(Cleaning.qcol)
    val c = Cleaning.toNumeric(Cleaning.qcol(valueCol))
    // indexed internal aliases: immune to caller column-name collisions
    // (a df column literally named "n" must not break the rank join)
    // and to dotted group names (qcol only ever touches the df side)
    val gAlias = groupCols.indices.map(i => s"__apg_g$i")
    val reserved = gAlias :+ "__apg_n" :+ "__apg_v"
    require(!df.columns.exists(reserved.contains),
      s"column names ${reserved.mkString(", ")} are reserved here")
    val sk = df.groupBy(g: _*).agg(
        count(c).as("__apg_n"),
        approx_percentile(c, lit(q), lit(accuracy)).as("__apg_v"))
      .toDF(gAlias ++ Seq("__apg_n", "__apg_v"): _*)
    // null-safe group equality so NULL-keyed groups gate like any other
    val cond = groupCols.zip(gAlias)
      .map { case (k, a) => Cleaning.qcol(k) <=> col(a) }.reduce(_ && _)
    val ranked = df.join(broadcast(sk), cond)
      .groupBy(gAlias.map(col): _*)
      .agg(
        first(col("__apg_n")).as("__apg_n"),
        sum(when(c < col("__apg_v"), 1L).otherwise(0L)).as("__lt"),
        sum(when(c <= col("__apg_v"), 1L).otherwise(0L)).as("__le"))
    val nD = col("__apg_n").cast("double")
    val ok = (col("__le").cast("double") >= floor((lit(q) - lit(eps)) * nD)) &&
      ((col("__lt") + 1).cast("double") <= ceil((lit(q) + lit(eps)) * nD))
    ranked.select(
      groupCols.zip(gAlias).map { case (k, a) => col(a).as(k) } ++ Seq(
        col("__apg_n").as("n"),
        lit(q).as("q"), lit(eps).as("rank_eps"),
        // a group with no non-null values has no ranks to violate
        when(col("__apg_n") === 0, lit(true)).otherwise(ok).as("within_bounds")): _*)
  }

  /** Verdict frame gating the Count-Min sketch on ITS guarantee — the
    * third leg of the approximate-aggregate family ([[approxDistinctGate]]
    * gates HLL, [[approxPercentileGate]] gates GK): per probed key,
    * `estimate >= true count` always (CMS never undercounts) and
    * `estimate <= true + eps * N` with the configured confidence, N
    * being the non-null row mass the sketch absorbed. The sketch blob
    * is engine-internal (seeded hash rows), so — verdict-frame
    * contract — the output carries the exact count, the constant, and
    * the pinned boolean, never the raw estimate.
    *
    * Probes the top-`probeKeys` keys by (count desc, key asc): the
    * heavy hitters are where a frequency sketch earns its keep, and
    * the bounded probe set keeps driver work O(probeKeys).
    *
    * Production callers use the sketch alone ([[org.apache.spark.sql
    * .DataFrameStatFunctions.countMinSketch]]): a fixed d×w counter
    * grid, additively mergeable map-side — at 100 TB the point-lookup
    * frequency store you ship to other systems, vs shuffling every key
    * occurrence to count exactly. Deterministic for a given multiset
    * and seed (integer adds, order-invariant), so the verdict is
    * re-run- and partitioning-stable.
    */
  def countMinGate(
      df: DataFrame, keyCol: String, eps: Double = 0.005,
      confidence: Double = 0.99, seed: Int = 42, probeKeys: Int = 20): DataFrame = {
    require(eps > 0 && eps < 1, s"eps must be in (0,1), got $eps")
    require(confidence > 0 && confidence < 1,
      s"confidence must be in (0,1), got $confidence")
    require(probeKeys > 0, s"probeKeys must be > 0, got $probeKeys")
    val c = Cleaning.qcol(keyCol)
    val nonNull = df.filter(c.isNotNull)
    // the sketch pass: one additive-mergeable aggregate, blob to driver
    val sketch = nonNull.stat.countMinSketch(c, eps, confidence, seed)
    // the probe set: bounded top-N exact counts (count desc, key asc)
    val exact = nonNull.groupBy(c.as(keyCol))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, c.asc)
      .limit(probeKeys)
      .collect()
    val n = sketch.totalCount()
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    val rows = exact.map { r =>
      val key = r.get(0)
      val cnt = r.getLong(1)
      val est = sketch.estimateCount(key)
      org.apache.spark.sql.Row(key, cnt, eps,
        est >= cnt && est.toDouble <= cnt.toDouble + eps * n)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(keyCol,
        nonNull.select(c).schema.head.dataType),
      org.apache.spark.sql.types.StructField("n_exact",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("eps",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("within_bounds",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  /** Fixed-width histogram: bin index + count per bin over [lo, hi).
    * Values outside [lo, hi) are clamped into the edge bins (the
    * pandas/numpy "include outliers at the edges" convention a survey
    * dashboard wants). Bin arithmetic is plain IEEE floor —
    * deterministic and engine-portable. One hash-aggregate shuffle of
    * at most `nbins` groups.
    */
  def histogram(df: DataFrame, column: String, lo: Double, hi: Double, nbins: Int): DataFrame = {
    require(nbins > 0 && hi > lo, s"need nbins>0 and hi>lo")
    val c = Cleaning.toNumeric(Cleaning.qcol(column))
    val raw = floor((c - lo) / (hi - lo) * nbins)
    val bin = greatest(lit(0.0), least(lit((nbins - 1).toDouble), raw)).cast("int")
    // NaN passes isNotNull and least/greatest would clamp it into the
    // top bin — drop it with the nulls instead of inflating the edge
    df.filter(c.isNotNull && !isnan(c))
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("count"))
  }

  /** Value-based n-tile summary WITHOUT a global-order window: bucket
    * boundaries come from ONE percentile aggregate (a broadcast 1-row
    * frame), then each row's bucket is a narrow comparison against the
    * boundary array — count-of-boundaries-strictly-below + 1. Rows with
    * equal values always land in the same bucket (value-based deciles,
    * not row-split ntile), which is the definition that survives scale:
    * no single task ever sees the whole table.
    *
    * `exact = true` uses the sort-based `percentile` (linear
    * interpolation at p·(N−1) — the same type-7 definition as DuckDB's
    * `quantile_cont`, so the boundaries are oracle-able bit-for-bit on
    * integer inputs). At 100 TB flip to `exact = false`:
    * `approx_percentile`'s mergeable sketch is one pass with bounded
    * memory, at the cost of sketch-tolerance boundaries.
    */
  def bucketSummary(
      df: DataFrame, valueCol: String, nBuckets: Int = 10,
      exact: Boolean = true): DataFrame = {
    require(nBuckets > 1, s"need nBuckets>1, got $nBuckets")
    val v = Cleaning.toNumeric(Cleaning.qcol(valueCol))
    val ps = array((1 until nBuckets).map(i => lit(i.toDouble / nBuckets)): _*)
    val boundsAgg =
      if (exact) percentile(v, ps) else approx_percentile(v, ps, lit(10000))
    val bounds = df.filter(v.isNotNull && !isnan(v)).agg(boundsAgg.as("__bounds"))
    df.filter(v.isNotNull && !isnan(v))
      .crossJoin(broadcast(bounds))
      .select((size(filter(col("__bounds"), x => v > x)) + 1).as("bucket"), v.as("__v"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("total"))
  }

  /** Shared scaffolding for the driver-side contingency operators
    * (chiSquare, columnProportionZTest): ONE distributed cell
    * aggregation, collected as a (row, col) → weight map with sorted
    * category lists. The grid is summary-sized by definition (bounded
    * by category cardinalities — the same contract as the reference's
    * own margin handling, and as Raking) — and ENFORCED: the collect is
    * limit-capped at [[Crosstab.MaxCells]] and fails loudly past it
    * (an id column passed as a category would otherwise OOM the driver
    * instead of erroring — same guard as Crosstab's grid collect).
    */
  private def cellGrid(
      df: DataFrame, rowCol: String, colCol: String,
      weightCol: Option[String]): (Map[(String, String), Double], Seq[String], Seq[String]) = {
    val w = Cleaning.weightExpr(df, weightCol)
    val r = Cleaning.qcol(rowCol)
    val c = Cleaning.qcol(colCol)
    val cellRows = df.filter(r.isNotNull && c.isNotNull)
      .groupBy(r.cast("string").as("__r"), c.cast("string").as("__c"))
      .agg(sum(w).as("obs"))
      .limit(Crosstab.MaxCells + 1)
      .collect()
    require(cellRows.length <= Crosstab.MaxCells,
      s"cellGrid: >${Crosstab.MaxCells} distinct ($rowCol, $colCol) cells — not contingency-shaped columns")
    val obs = cellRows.map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2)).toMap
    (obs, obs.keys.map(_._1).toSeq.distinct.sorted, obs.keys.map(_._2).toSeq.distinct.sorted)
  }

  /** Pearson chi-square test of independence over a weighted crosstab —
    * the survey analyst's "is this banner break significant" operator.
    * Long format (metric, value) with integer-scaled values so the
    * statistic is exact and engine-portable:
    *   chi2_micro = Σ_cells floor((obs-exp)²/exp * 1e6 + 0.5)  (long sum
    *   — order-independent, unlike a double sum), dof, n.
    * Cell counts come from one hash-aggregate; expected counts from
    * window sums over the aggregated (tiny) cell frame.
    */
  def chiSquare(
      df: DataFrame, rowCol: String, colCol: String,
      weightCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    val (obs, rcats, ccats) = cellGrid(df, rowCol, colCol, weightCol)
    // densify: empty cells still contribute (0-exp)²/exp = exp — dropping
    // them understates the statistic. Sums of integer-valued weights are
    // exact in doubles, so margin order cannot change results.
    val rowSum = rcats.map(rc => rc -> ccats.map(cc => obs.getOrElse((rc, cc), 0.0)).sum).toMap
    val colSum = ccats.map(cc => cc -> rcats.map(rc => obs.getOrElse((rc, cc), 0.0)).sum).toMap
    val total = rcats.map(rowSum).sum
    val chi2Micro = (for (rc <- rcats; cc <- ccats) yield {
      val e = rowSum(rc) * colSum(cc) / total
      val o = obs.getOrElse((rc, cc), 0.0)
      if (e > 0) math.floor((o - e) * (o - e) / e * 1e6 + 0.5).toLong else 0L
    }).sum
    val dof = (rcats.size - 1).toLong * (ccats.size - 1).toLong
    // round-to-nearest like DuckDB's CAST(double AS BIGINT): with the
    // documented integer-valued weights this is exact; with fractional
    // (e.g. raked) weights it stays aligned with the oracle instead of
    // truncating 99.9999... to 99
    spark.createDataFrame(Seq(
      ("chi2_micro", chi2Micro), ("dof", dof), ("n", math.floor(total + 0.5).toLong)))
      .toDF("metric", "value")
  }

  /** Per-category proportion with a design-effect-adjusted 95% margin
    * of error: p ± 1.96·sqrt(p(1-p)/neff), where neff is Kish's
    * effective sample size of the WEIGHTED base — the number a survey
    * reporter actually quotes. One hash aggregate over the category
    * column; the scalar base/neff attaches via a broadcast 1-row agg.
    * moe is micro-scaled to a long so the oracle compare is exact.
    */
  def proportionCI(
      df: DataFrame, column: String, weightCol: Option[String] = None): DataFrame = {
    val w = Cleaning.weightExpr(df, weightCol)
    val c = Cleaning.qcol(column)
    // ONE scan: per-option partials (Σw, Σw²) carry everything the
    // global base/neff needs — both are additive, and exact for the
    // integer-valued weights the determinism contract requires
    // no persist: the two consumers below are identical subplans, so the
    // grouped shuffle is deduped by ReuseExchange — a persist here would
    // sit in the CacheManager with no owner to release it (long-lived
    // sessions accumulate)
    val grouped = df.filter(c.isNotNull)
      .select(c.cast("string").as("option"), w.as("__w"))
      .groupBy("option")
      .agg(sum(col("__w")).as("wsum"), sum(col("__w") * col("__w")).as("wsq"))
    val totals = grouped.agg(
      sum(col("wsum")).as("__W"),
      (sum(col("wsum")) * sum(col("wsum")) / sum(col("wsq"))).as("__neff"))
    val p = col("wsum") / col("__W")
    grouped
      .crossJoin(broadcast(totals))
      .select(
        col("option"),
        p.as("share"),
        col("__neff").as("neff"),
        floor(lit(1.96) * sqrt(p * (lit(1) - p) / col("__neff")) * 1e6 + 0.5)
          .cast("long").as("moe_micro"))
  }

  /** Pairwise column-proportion z-tests — the significance marks a
    * survey crosstab carries ("is column A's share of this row
    * significantly different from column B's"). For every row category
    * and every unordered column pair: two-proportion z with pooled
    * variance, micro-scaled to a long for exact cross-engine equality,
    * plus the 95% verdict.
    *
    * Same execution pattern as chiSquare: ONE distributed cell
    * aggregation; the pairwise arithmetic runs on the driver over the
    * summary-sized grid. Integer-valued weights keep every input exact,
    * so z is bit-identical in any engine evaluating the same formula.
    */
  def columnProportionZTest(
      df: DataFrame, rowCol: String, colCol: String,
      weightCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    val (obs, rcats, ccats) = cellGrid(df, rowCol, colCol, weightCol)
    val colN = ccats.map(cc => cc -> rcats.map(rc => obs.getOrElse((rc, cc), 0.0)).sum).toMap
    val out = for {
      rc <- rcats
      (ca, ia) <- ccats.zipWithIndex
      cb <- ccats.drop(ia + 1)
      na = colN(ca); nb = colN(cb)
      if na > 0 && nb > 0
    } yield {
      val wa = obs.getOrElse((rc, ca), 0.0)
      val wb = obs.getOrElse((rc, cb), 0.0)
      val p1 = wa / na; val p2 = wb / nb
      val pp = (wa + wb) / (na + nb)
      val den = math.sqrt(pp * (1 - pp) * (1 / na + 1 / nb))
      if (den > 0) {
        val z = (p1 - p2) / den
        (rc, ca, cb, Some(math.floor(z * 1e6 + 0.5).toLong), math.abs(z) > 1.96)
      } else (rc, ca, cb, Option.empty[Long], false)
    }
    import spark.implicits._
    out.toDF(rowCol, "col_a", "col_b", "z_micro", "significant")
  }

  /** Weighted quantile per group: smallest value v such that the
    * cumulative weight of rows with value <= v reaches q * totalWeight.
    * (The inverted-CDF definition — exact, portable, and well-defined
    * for integer-valued weights; ties on the value cannot change the
    * answer because selection is by min(value) past the threshold.)
    *
    * CONTRACT: weights are expected to be INTEGER-VALUED doubles (the
    * repo-wide determinism rule — survey weights, counts, cent-scaled
    * money). The tie pre-aggregation below sums tied weights before
    * the sorted window, which is bit-exact only because integer-valued
    * doubles sum associatively; fractional weights would make the low
    * bits of `__cum`/`__tot` depend on summation order and could flip
    * the `cum >= q*tot` comparison at a threshold boundary. Fractional
    * weights still give a correct quantile up to that boundary
    * sensitivity — they just lose the bit-exactness guarantee.
    *
    * One shuffle on the group key; the running sum is a sorted window
    * within each group — the standard distributed exact-quantile shape.
    * At 100 TB the sorted-window pass gives way to
    * [[graft.functions.Aggregates.weightedQuantileSketch]]: one hash
    * aggregate with a capacity-bounded mergeable buffer, exact while a
    * group has ≤ capacity distinct (long) values and stride-bounded
    * error past that — same inverted-CDF definition.
    * [[weightedQuantileAuto]] wires that swap.
    */
  def weightedQuantile(
      df: DataFrame, valueCol: String, weightCol: String,
      groupCols: Seq[String], q: Double,
      maxDistinctPerGroup: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(q > 0 && q <= 1, s"q must be in (0,1], got $q")
    require(maxDistinctPerGroup > 0, "maxDistinctPerGroup must be positive")
    val v = Cleaning.toNumeric(Cleaning.qcol(valueCol))
    val w = Cleaning.weightExpr(df, Some(weightCol))
    val g = groupCols.map(Cleaning.qcol)
    val base = df.filter(v.isNotNull).select((g :+ v.as("__v")) :+ w.as("__w"): _*)
      // pre-aggregate tied values before the window: the sorted pass
      // then runs over DISTINCT (group, value) rows, not raw rows —
      // with map-side partial aggregation, so the shuffle shrinks too.
      // Result-identical: selection is min(value) past the threshold
      // (the scaladoc's tie argument), and weights are integer-valued
      // doubles by the determinism contract, so re-ordering the
      // summation cannot move a single bit.
      .groupBy(groupCols.map(Cleaning.qcol) :+ col("__v"): _*)
      .agg(sum(col("__w")).as("__w"))
    val win = Window.partitionBy(groupCols.map(Cleaning.qcol): _*)
      .orderBy(col("__v")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(groupCols.map(Cleaning.qcol): _*)
    // the per-group distinct-value count shares the tot window (same
    // partitioning, no extra shuffle); the guard rides INSIDE the
    // consumed __tot of the threshold filter — a group whose value
    // lattice exceeds the cap (a continuous column) errors loudly in
    // the same window pass instead of silently sorting an
    // arbitrarily-large single partition per group. For genuinely
    // continuous columns use weightedQuantileSketch/-Auto.
    base
      .withColumn("__cum", sum(col("__w")).over(win))
      .withColumn("__tot", sum(col("__w")).over(tot))
      .withColumn("__nv", count(lit(1)).over(tot))
      .filter(col("__cum") >= lit(q) *
        when(col("__nv") > maxDistinctPerGroup,
          raise_error(lit(s"weightedQuantile: a group exceeds " +
            s"$maxDistinctPerGroup distinct values — band the column or use " +
            "weightedQuantileSketch")).cast("double"))
          .otherwise(col("__tot")))
      .groupBy(groupCols.map(Cleaning.qcol): _*)
      .agg(min(col("__v")).as("quantile"))
  }

  /** Neyman optimal allocation — the survey-design answer to "how do I
    * split a sample budget across strata?": n_h ∝ N_h·S_h, so big AND
    * variable strata get the samples, and a zero-variance stratum gets
    * none (one observation already tells its whole story — the
    * textbook result, surfaced rather than hidden). Pairs with the
    * rim-weighting/neff machinery ([[graft.bht.Raking]]) as the design
    * step that runs BEFORE fieldwork.
    *
    * Determinism: per-stratum moments are exact cent-scaled longs (one
    * hash aggregate; ANSI overflow guards the square sum — swap to
    * DECIMAL(38) for currency-scale values at extreme row counts);
    * each S_h is a fixed double chain over those exact longs, and the
    * weight total folds left-to-right in SORTED stratum order — the
    * identical association an ordered-window cumulative produces, so
    * the oracle replays every bit. Allocations round half-up.
    *
    * Scale: one aggregate to |strata| rows (driver-capped at 10k —
    * a stratification wider than that is a key, not a design).
    */
  def neymanAllocation(
      df: DataFrame, valueCol: String, stratumCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    val v = Cleaning.toNumeric(Cleaning.qcol(valueCol))
    val cents = floor(v * 100 + 0.5).cast("long")
    val m = df.filter(v.isNotNull)
      .groupBy(Cleaning.qcol(stratumCol).cast("string").as("stratum"))
      .agg(count(lit(1)).as("nh"), sum(cents).as("s1"),
        sum(cents * cents).as("s2"))
      .collect()
    require(m.length <= 10000,
      s"${m.length} strata — a stratification this wide is a key, not a design")
    val rows = m.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val whs = rows.map { case (_, nh, s1, s2) =>
      val mean = s1.toDouble / nh
      val variance = s2.toDouble / nh - mean * mean
      nh * math.sqrt(math.max(variance, 0.0))
    }
    val totW = whs.foldLeft(0.0)(_ + _)
    val out = rows.zip(whs).map { case ((st, nh, _, _), wh) =>
      val alloc =
        if (totW > 0) math.floor(budget * wh / totW + 0.5).toLong else 0L
      val share =
        if (totW > 0) math.floor(wh / totW * 1e6 + 0.5) / 1e6 else 0.0
      org.apache.spark.sql.Row(st, nh, share, alloc)
    }
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(out.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("stratum",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("nh",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("share",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("alloc",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Population Stability Index — the banded drift score model-risk
    * teams threshold on (PSI < 0.1 stable, 0.1–0.25 watch, > 0.25
    * drifted): Σ (pA−pB)·ln(pA/pB) over fixed-width value bands.
    * Complements [[ksDrift]]: KS is the exact all-values statistic,
    * PSI is the banded industry score whose per-band contributions
    * a reviewer reads directly (the output keeps them).
    *
    * Determinism: band populations are exact integer counts (the
    * [[histogram]] clamp convention); each band's term is ONE fixed
    * double expression over two exact ratios, floored to micro units
    * (the long-moment trick) so the cross-band total is an exact
    * integer sum — order-invariant, engine-exact. Empty-band ratios
    * use the standard PSI epsilon (1e-6 share floor) so a vanished
    * band contributes a large-but-finite term instead of ±∞.
    *
    * Scale: one conditional hash aggregate to ≤ nbins rows, then
    * arithmetic on that band frame. Output: one row per band
    * (band, n_a, n_b, psi_term_micro) plus the caller sums — or use
    * [[psiSummary]] for the one-row verdict.
    */
  def psiBands(
      df: DataFrame, valueCol: String, sliceCol: String,
      sliceA: String, sliceB: String,
      lo: Double, hi: Double, nbins: Int = 10): DataFrame = {
    require(nbins > 0 && hi > lo, "need nbins > 0 and hi > lo")
    require(sliceA != sliceB, "slices must differ")
    val v = Cleaning.toNumeric(Cleaning.qcol(valueCol))
    val s = Cleaning.qcol(sliceCol).cast("string")
    val raw = floor((v - lo) / (hi - lo) * nbins)
    val band = greatest(lit(0.0), least(lit((nbins - 1).toDouble), raw)).cast("int")
    val counts = df
      .filter(v.isNotNull && !isnan(v) && (s === sliceA || s === sliceB))
      .groupBy(band.as("band"))
      .agg(
        coalesce(sum(when(s === sliceA, 1L)), lit(0L)).as("n_a"),
        coalesce(sum(when(s === sliceB, 1L)), lit(0L)).as("n_b"))
    val tot = counts.agg(
      coalesce(sum(col("n_a")), lit(0L)).as("__ta"),
      coalesce(sum(col("n_b")), lit(0L)).as("__tb"))
    val pa = greatest(col("n_a").cast("double") / col("__ta"), lit(1e-6))
    val pb = greatest(col("n_b").cast("double") / col("__tb"), lit(1e-6))
    counts.crossJoin(broadcast(tot))
      .select(col("band"), col("n_a"), col("n_b"),
        floor((pa - pb) * log(pa / pb) * 1e6 + 0.5).cast("long")
          .as("psi_term_micro"))
  }

  /** One-row PSI verdict over [[psiBands]]: exact micro-unit total,
    * the double score, and the 0.25 industry threshold. */
  def psiSummary(
      df: DataFrame, valueCol: String, sliceCol: String,
      sliceA: String, sliceB: String,
      lo: Double, hi: Double, nbins: Int = 10): DataFrame =
    psiBands(df, valueCol, sliceCol, sliceA, sliceB, lo, hi, nbins)
      .agg(
        count(lit(1)).as("n_bands"),
        sum(col("n_a")).as("n_a"), sum(col("n_b")).as("n_b"),
        sum(col("psi_term_micro")).as("__m"))
      .select(col("n_bands"), col("n_a"), col("n_b"),
        (col("__m").cast("double") / 1e6).as("psi"),
        (col("__m") > 250000L).as("drifted"))

  /** Two-sample Kolmogorov-Smirnov drift statistic — "did this
    * numeric distribution CHANGE between two slices?" (new crawl vs
    * old, source A vs source B, this week's lengths vs last week's).
    * Profile diffs compare summary moments; KS compares the whole
    * CDF, catching shape changes moments miss.
    *
    * Exactness: D = max |cdfA − cdfB| is computed on the integer
    * lattice — max over distinct values of |cumA·nB − cumB·nA|, an
    * exact long — and divided by n_a·n_b once at the end (halfUp 6),
    * so the statistic is order-invariant and engine-exact. The
    * verdict compares D against the classic large-sample 5% critical
    * value 1.358·sqrt((n_a+n_b)/(n_a·n_b)).
    *
    * Scale: one conditional aggregate to DISTINCT values (map-side
    * partials), then cumulative sums over that value-lattice frame —
    * bounded by the number of distinct values, not rows (doc lengths,
    * quantities, scores: thousands). For a genuinely unbounded
    * continuous column, band values first (the histogram contract) —
    * KS on the banded lattice bounds the exact D within one band's
    * probability mass. The contract is ENFORCED in-plan: the distinct
    * count rides the 1-row totals broadcast, and the guard lives
    * inside the cumulative sum's INPUT expression (the
    * consumed-expression rule — a standalone audit column would be
    * pruned), in the projection BELOW the window's exchange+sort — a
    * continuous column raise_errors loudly before the single-partition
    * sort materializes, instead of silently cliffing.
    */
  def ksDrift(
      df: DataFrame, valueCol: String, sliceCol: String,
      sliceA: String, sliceB: String,
      maxDistinctValues: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(sliceA != sliceB, "slices must differ")
    require(maxDistinctValues > 0, "maxDistinctValues must be positive")
    val v = Cleaning.toNumeric(Cleaning.qcol(valueCol))
    val s = Cleaning.qcol(sliceCol).cast("string")
    val counts = df.filter(v.isNotNull && (s === sliceA || s === sliceB))
      .groupBy(v.as("__v"))
      .agg(
        coalesce(sum(when(s === sliceA, 1L)), lit(0L)).as("__ca"),
        coalesce(sum(when(s === sliceB, 1L)), lit(0L)).as("__cb"))
    val win = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = counts.agg(
      coalesce(sum(col("__ca")), lit(0L)).as("__na"),
      coalesce(sum(col("__cb")), lit(0L)).as("__nb"),
      count(lit(1)).as("__nv"))
    val guardedCa =
      when(col("__nv") > maxDistinctValues,
        raise_error(concat(
          lit(s"ksDrift: value lattice exceeds $maxDistinctValues distinct values"),
          lit(" — band the column first (the histogram contract)")))
          .cast("long"))
        .otherwise(col("__ca"))
    val cum = counts.crossJoin(broadcast(tot))
      .withColumn("__cuma", sum(guardedCa).over(win))
      .withColumn("__cumb", sum(col("__cb")).over(win))
    cum
      .agg(
        first(col("__na")).as("__na"), first(col("__nb")).as("__nb"),
        max(abs(col("__cuma") * col("__nb") - col("__cumb") * col("__na"))).as("__d"))
      .select(
        col("__na").as("n_a"), col("__nb").as("n_b"),
        Rounding.halfUp(
          col("__d").cast("double") / (col("__na") * col("__nb")).cast("double"), 6)
          .as("ks"),
        (col("__d").cast("double") / (col("__na") * col("__nb")).cast("double") >
          lit(1.358) * sqrt((col("__na") + col("__nb")).cast("double") /
            (col("__na") * col("__nb")).cast("double"))).as("drifted"))
  }

  /** Winsorized mean per group — the robust location estimate for
    * heavy-tailed metrics (claim amounts, LTV, latencies): values are
    * CLAMPED to the group's [lo, hi] quantile boundaries before the
    * mean, so a fat tail moves the boundary, not the estimate.
    * Boundaries use the [[weightedQuantile]] inverted-CDF definition on
    * unit weights (smallest value whose cumulative tie-group count
    * reaches q·n — value-based, tie-stable, engine-exact); clamping is
    * value-based too, so equal values always clamp identically.
    *
    * Determinism: integral-VALUED inputs (the repo contract — counts,
    * quantities, cent-scaled money) make the clamped sum exact
    * associative double arithmetic; the mean is halfUp 6.
    *
    * Scale: the same distinct-value pre-aggregation as
    * [[weightedQuantile]] — the sorted window runs over tie groups,
    * not rows — and the mean is computed FROM that tie-grouped frame
    * (clamp(v)·count), so the raw table is scanned exactly once.
    * Output: (groupCols…, n, lo, hi, winsorized_mean).
    */
  def winsorizedMean(
      df: DataFrame, valueCol: String, groupCols: Seq[String],
      lo: Double = 0.1, hi: Double = 0.9,
      maxDistinctPerGroup: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(lo > 0 && hi < 1 && lo < hi, s"need 0 < lo < hi < 1, got [$lo, $hi]")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(maxDistinctPerGroup > 0, "maxDistinctPerGroup must be positive")
    val v = Cleaning.toNumeric(Cleaning.qcol(valueCol))
    val g = groupCols.map(Cleaning.qcol)
    val counts = df.filter(v.isNotNull)
      .groupBy(g :+ v.as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val win = Window.partitionBy(groupCols.map(Cleaning.qcol): _*)
      .orderBy(col("__v")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(groupCols.map(Cleaning.qcol): _*)
    // same in-plan cardinality guard as weightedQuantile: the
    // distinct-value count shares the tot window and the raise_error
    // rides inside the consumed __tot of the boundary predicate
    val guardedTot =
      when(count(lit(1)).over(tot) > maxDistinctPerGroup,
        raise_error(lit(s"winsorizedMean: a group exceeds " +
          s"$maxDistinctPerGroup distinct values — band the column first"))
          .cast("long"))
        .otherwise(sum(col("__c")).over(tot))
    val cum = counts
      .withColumn("__cum", sum(col("__c")).over(win))
      .withColumn("__tot", guardedTot)
    val bounds = cum.groupBy(groupCols.map(Cleaning.qcol): _*).agg(
      min(when(col("__cum") >= lit(lo) * col("__tot"), col("__v"))).as("__lo"),
      min(when(col("__cum") >= lit(hi) * col("__tot"), col("__v"))).as("__hi"))
    val clamped = greatest(col("__lo"), least(col("__hi"), col("__v")))
    counts.join(bounds, groupCols)
      .groupBy(groupCols.map(Cleaning.qcol): _*)
      .agg(
        sum(col("__c")).as("n"),
        first(col("__lo")).as("lo"),
        first(col("__hi")).as("hi"),
        Rounding.halfUp(
          sum(clamped * col("__c")) / sum(col("__c")), 6).as("winsorized_mean"))
  }

  /** Scale-adaptive weighted quantile: route each call to the exact
    * sorted-window pass ([[weightedQuantile]]) or the capacity-bounded
    * sketch aggregate
    * ([[graft.functions.Aggregates.weightedQuantileSketch]]) based on a
    * cheap probe of the data — the "at 100 TB" swap the exact form's
    * scaladoc promises, wired.
    *
    * Probe (one hash-aggregate pass, map-side partials, 1-row collect):
    * per-group approximate distinct value count (max over groups),
    * whether every VALUE and every WEIGHT is an integral long, whether
    * any weight is negative, and whether any group's weight SUM could
    * overflow a long — the sketch buckets long values and sums long
    * weights, so a fractional weight would silently truncate, a
    * negative weight changes even which groups emit rows, and an
    * overflowing sum wraps the threshold, where the exact pass keeps
    * doubles throughout.
    * The sketch route is taken only when ALL hold with margin — max
    * distinct ≤ 0.8 × capacity (HLL at an explicit rsd=0.02 makes an
    * over-capacity group slipping under the gate a ≥10σ event) and
    * values/weights integral and long-range — because under exactly
    * those conditions the sketch's stride never leaves 1 and its
    * result is IDENTICAL to the exact pass: same integer cumulative
    * weights, same `cum >= q*total` double comparison, same
    * min-value-past-threshold selection (StatsSpec pins this).
    * Otherwise the exact sorted-window pass runs unchanged.
    *
    * Why this is the right 100 TB shape: when the probe says the
    * distinct values fit, the query costs one hash aggregate — no
    * per-group sort, no window — and the answer provably cannot
    * change; when it says they don't, silently switching to a
    * stride>1 sketch would trade exactness away without the caller
    * asking, so the exact pass runs instead. Callers wanting bounded
    * error on unbounded groups call the sketch aggregate directly.
    */
  def weightedQuantileAuto(
      df: DataFrame, valueCol: String, weightCol: String,
      groupCols: Seq[String], q: Double, capacity: Int = 4096): DataFrame = {
    require(q > 0 && q <= 1, s"q must be in (0,1], got $q")
    val v = Cleaning.toNumeric(Cleaning.qcol(valueCol))
    val w = Cleaning.weightExpr(df, Some(weightCol))
    val g = groupCols.map(Cleaning.qcol)
    val probe = df.filter(v.isNotNull)
      .groupBy(g: _*)
      .agg(
        approx_count_distinct(v, 0.02).as("__dc"),
        max((v =!= floor(v)).cast("int")).as("__vfrac"),
        max(abs(v)).as("__vmax"),
        max((w =!= floor(w)).cast("int")).as("__wfrac"),
        min(w).as("__wmin"),
        // the sketch sums a group's weights in a LONG: the probe must
        // bound the per-group SUM, not just each weight (three 4e18
        // weights are individually fine and wrap negative when added)
        sum(w).as("__wsum"))
      .agg(max(col("__dc")), max(col("__vfrac")), max(col("__vmax")),
        max(col("__wfrac")), min(col("__wmin")), max(col("__wsum")))
      .head()
    // NaN/Infinity fail the range checks (NaN sorts above every double
    // in Spark, so it surfaces in the max); negative weights change
    // even the exact pass's row set semantics, so they stay exact; an
    // all-null-values input leaves the non-count probe columns null —
    // every such case routes to the exact pass
    val eligible = (0 until 6).forall(i => !probe.isNullAt(i)) &&
      probe.getLong(0) <= (capacity * 0.8).toLong &&
      probe.getInt(1) == 0 &&
      probe.getDouble(2) < 4.0e18 && // comfortably inside Long
      probe.getInt(3) == 0 &&
      probe.getDouble(4) >= 0.0 && // no negative weights in the sketch route
      probe.getDouble(5) < 4.0e18 // group weight SUM stays inside Long
    if (!eligible) weightedQuantile(df, valueCol, weightCol, groupCols, q)
    else {
      df.filter(v.isNotNull)
        .groupBy(g: _*)
        .agg(graft.functions.Aggregates.weightedQuantileSketch(
          v.cast("long"), w.cast("long"), q, capacity).as("__q"))
        .select(g :+ col("__q").cast("double").as("quantile"): _*)
    }
  }

  /** Benford first-significant-digit audit — the forensic screen for
    * fabricated or synthesized numeric columns: organically grown
    * magnitudes (prices, populations, transaction amounts spanning
    * decades) put ~30.1% of first digits at 1, while invented numbers
    * cluster mid-range. Reports per-digit observed vs Benford-expected
    * share and the absolute gap; large gaps on a column that SHOULD be
    * Benford-ish flag a synthetic or truncated source before it
    * contaminates a training mix.
    *
    * Determinism: values round to the integer lattice and the first
    * digit comes from the BIGINT's decimal string (both engines format
    * BIGINTs identically — no float sci-notation path); expected
    * shares are computed ONCE here, rounded to micro, and interpolated
    * into the oracle as literals (never re-derived); shares divide
    * exact counts and round halfUp-6.
    *
    * Scale: one hash aggregate to ≤ 9 rows, a broadcast 9-row grid
    * (digits with no observations still report — their gap IS the
    * expected share), and a broadcast 1-row total.
    * Output: (digit, n, share, expected, abs_dev), 9 rows.
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val v = Cleaning.toNumeric(Cleaning.qcol(valueCol))
    val mag = floor(abs(v) + 0.5).cast("long")
    val counts = df.filter(v.isNotNull && !isnan(v))
      .select(mag.as("__m"))
      .filter(col("__m") > 0)
      .groupBy(substring(col("__m").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(coalesce(sum(col("n")), lit(0L)).as("__N"))
    val grid = df.sparkSession.createDataFrame(
      (1 to 9).map(d =>
        (d, math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5) / 1e6)))
      .toDF("digit", "expected")
    val share = col("n").cast("double") / col("__N").cast("double")
    grid.join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        Rounding.halfUp(share, 6).as("share"), col("expected"),
        Rounding.halfUp(abs(share - col("expected")), 6).as("abs_dev"))
  }

  /** Per-group shape profile — skewness and excess kurtosis — for the
    * tail-risk read the mean/stddev describe pass misses: two groups
    * with identical mean and variance can hide a one-sided tail
    * (skew ≠ 0) or a heavy symmetric tail (kurtosis > 0) that changes
    * sampling and winsorization decisions.
    *
    * Determinism: values round to the integer lattice
    * (`floor(v + 0.5)` — identity for the repo's integral-valued
    * metrics), so the four power sums S1..S4 are EXACT BIGINTs; the
    * central-moment chain is one fixed left-associated double
    * expression over those integers, identical in the oracle SQL, and
    * the outputs are halfUp-6. m2 is clamped at 0 (constant group) and
    * guards the skew/kurt divisions — a constant group reports 0.0.
    *
    * Scale: ONE hash aggregate (map-side partial) to |groups| rows;
    * no shuffle beyond the groupBy. BIGINT bound: |v|≤V needs
    * V⁴·rows < 2⁶³ — V=50 holds past 10¹² rows; re-lattice (scale
    * down) wider-ranged metrics before profiling.
    */
  def momentsByGroup(
      df: DataFrame, valueCol: String, groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val v = Cleaning.toNumeric(Cleaning.qcol(valueCol))
    val q = floor(v + 0.5).cast("long")
    val g = groupCols.map(Cleaning.qcol)
    val n = col("n").cast("double")
    val mean = col("__s1").cast("double") / n
    val r2 = col("__s2").cast("double") / n
    val r3 = col("__s3").cast("double") / n
    val r4 = col("__s4").cast("double") / n
    val m2 = greatest(r2 - mean * mean, lit(0.0))
    val m3 = r3 - lit(3.0) * mean * r2 + lit(2.0) * mean * mean * mean
    val m4 = r4 - lit(4.0) * mean * r3 + lit(6.0) * mean * mean * r2 -
      lit(3.0) * mean * mean * mean * mean
    df.filter(v.isNotNull && !isnan(v))
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n"), sum(q).as("__s1"),
        sum(q * q).as("__s2"), sum(q * q * q).as("__s3"),
        sum(q * q * q * q).as("__s4"))
      .select(groupCols.map(Cleaning.qcol) ++ Seq(
        col("n"),
        Rounding.halfUp(mean, 6).as("mean"),
        when(m2 > 0, Rounding.halfUp(m3 / (m2 * sqrt(m2)), 6))
          .otherwise(lit(0.0)).as("skewness"),
        when(m2 > 0, Rounding.halfUp(m4 / (m2 * m2) - lit(3.0), 6))
          .otherwise(lit(0.0)).as("kurt_excess")): _*)
  }

  /** MAD-based robust outlier audit per slice — the screen that mean/
    * stddev z-scores cannot provide, because outliers inflate the very
    * stddev meant to flag them (masking): median and MAD (median
    * absolute deviation) have a 50% breakdown point, so a corrupted
    * delivery batch cannot hide its own anomalies. Per slice: n,
    * median, MAD, the count of values with |x − median| > k·MAD, and
    * the largest absolute deviation.
    *
    * Exactness contract: `valueCol` must be integral (guarded loudly —
    * a silent double truncation would corrupt the medians); both
    * medians are the TYPE-1 lower quantile over distinct-value tie
    * groups — min value whose cumulative count reaches ceil(n/2),
    * `(n + 1) div 2` in exact integer arithmetic — so every output is
    * an exact long and engines agree. k·MAD = 0 when more than half
    * the slice shares one value; every unequal value is then an
    * outlier — the correct degenerate reading (the slice is a
    * constant plus noise).
    *
    * Scale: tie-group aggregate first, so the per-slice cumulative
    * windows run over DISTINCT VALUES, not rows (the s3_wquantile
    * shape) — bounded for integer-ish domains; route truly unbounded
    * domains through the quantile sketch instead. The |slices|-row
    * median/MAD frames broadcast back onto the tie groups.
    */
  def robustOutlierAudit(
      df: DataFrame, sliceCol: String, valueCol: String, k: Long = 3L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val vt = df.schema(valueCol).dataType.typeName
    require(Seq("byte", "short", "integer", "long").contains(vt),
      s"robustOutlierAudit needs an integral value column; '$valueCol' is $vt — " +
        "a silent double->long truncation would corrupt the medians")
    import org.apache.spark.sql.expressions.Window
    val s = Cleaning.qcol(sliceCol).cast("string")
    val v = Cleaning.qcol(valueCol).cast("long")
    val groups = df.filter(v.isNotNull)
      .select(s.as("slice"), v.as("v"))
      .groupBy(col("slice"), col("v")).agg(count(lit(1)).as("c"))
    def lowerMedian(g: DataFrame, out: String): DataFrame = {
      val byVal = Window.partitionBy(col("slice")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("__cum", sum(col("c")).over(byVal))
        .withColumn("__tot", sum(col("c")).over(Window.partitionBy(col("slice"))))
        .groupBy(col("slice"))
        .agg(max(col("__tot")).as(s"__n_$out"),
          min(when(col("__cum") >= expr("(__tot + 1) div 2"), col("v"))).as(out))
    }
    val med = lowerMedian(groups, "median")
    val devGroups = groups.join(broadcast(med), Seq("slice"))
      .select(col("slice"), abs(col("v") - col("median")).as("v"), col("c"))
      .groupBy(col("slice"), col("v")).agg(sum(col("c")).as("c"))
    val mad = lowerMedian(devGroups, "mad").select(col("slice"), col("mad"))
    devGroups.join(broadcast(med), Seq("slice")).join(broadcast(mad), Seq("slice"))
      .groupBy(col("slice"))
      .agg(
        max(col("__n_median")).as("n"),
        max(col("median")).as("median"),
        max(col("mad")).as("mad"),
        coalesce(sum(when(col("v") > col("mad") * k, col("c"))), lit(0L)).as("n_outliers"),
        max(col("v")).as("max_dev"))
  }

  /** Per-group least-squares trend — the drift detector a pipeline
    * runs over daily volumes, quality scores, or any (x, y) series per
    * slice: exact closed-form OLS from integer moment sums.
    *
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *
    * Both numerator and denominator are EXACT longs (integral-column
    * contract, enforced like [[corrMatrix]]); `slope_micro` and
    * `intercept_micro` are integer `div` on them, so engines agree
    * bitwise. `r2` is the one derived double (numerator² overflows a
    * long) — computed as a fixed IEEE expression over the exact longs,
    * halfUp 6. Degenerate groups (constant x, or constant y for r2)
    * yield NULL. Output: (group, n, slope_micro, intercept_micro, r2).
    *
    * Overflow contract: moment sums must fit a long — |x|,|y| ≤ ~3e5
    * at a billion rows per group, or pre-aggregate/bucket first (the
    * daily-volume use never gets close: x = day index, y = daily
    * count).
    *
    * Scale: ONE hash aggregate to |groups| rows (map-side partials),
    * then row-local arithmetic. The corpus never sorts.
    */
  def groupTrend(
      df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame = {
    import graft.ops.Cleaning.qcol
    for (c <- Seq(xCol, yCol)) {
      val dt = df.schema(c).dataType
      require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
        s"groupTrend requires integral columns for exact long moments; '$c' is " +
          dt.typeName)
    }
    df.filter(qcol(xCol).isNotNull && qcol(yCol).isNotNull)
      .select(qcol(groupCol).as("group"),
        qcol(xCol).cast("long").as("x"), qcol(yCol).cast("long").as("y"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("ytot", col("n") * col("syy") - col("sy") * col("sy"))
      .withColumn("slope_micro",
        when(col("den") =!= 0, expr("(num * 1000000L) div den")))
      .withColumn("intercept_micro",
        when(col("den") =!= 0, expr("(sy * 1000000L - slope_micro * sx) div n")))
      .withColumn("r2",
        when(col("den") =!= 0 && col("ytot") =!= 0,
          Rounding.halfUp(
            col("num").cast("double") * col("num").cast("double") /
              (col("den").cast("double") * col("ytot").cast("double")), 6)))
      .select(col("group"), col("n"), col("slope_micro"),
        col("intercept_micro"), col("r2"))
  }

  /** Per-slice rank (quantile) normalization — the scale-free feature
    * transform: each distinct value within a slice maps to its
    * average-rank percentile in [0, 1e6] micro units
    * (`pct = (avgrank − 1) / (n − 1)`, avgrank = midrank of the tie
    * group), so downstream consumers compare values ACROSS slices with
    * wildly different scales (per-language lengths, per-source scores)
    * on one axis. Pure integer identity: with `cnt_less` values
    * strictly below the group and `ties` in it,
    * `avgrank − 1 = cnt_less + (ties − 1)/2`, so
    * `pct_micro = (2·cnt_less + ties − 1) · 1e6 div (2·(n − 1))` —
    * exact longs, engines agree bitwise. A single-row slice has no
    * spread; it maps to the 500000 midpoint by convention.
    *
    * Output: one row per (slice, value) tie group — (sliceCol,
    * valueCol, ties, pct_micro); join back on (slice, value) to
    * annotate rows. NULL slices/values are excluded (no rank order).
    *
    * Scale: one (slice, value) aggregate, then the cumulative window
    * over TIE GROUPS (the weighted-quantile pattern — the corpus never
    * sorts, only the distinct-value table does) partitioned by the
    * real slice key.
    */
  def rankNormalize(
      df: DataFrame, sliceCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Cleaning.qcol
    val g = df
      .filter(qcol(sliceCol).isNotNull && qcol(valueCol).isNotNull)
      .groupBy(qcol(sliceCol), qcol(valueCol))
      .agg(count(lit(1)).as("ties"))
    val wCum = Window.partitionBy(qcol(sliceCol)).orderBy(qcol(valueCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(qcol(sliceCol))
    g.withColumn("__cum", sum(col("ties")).over(wCum))
      .withColumn("__n", sum(col("ties")).over(wAll))
      .withColumn("pct_micro",
        when(col("__n") > 1,
          expr("((2 * (__cum - ties) + ties - 1) * 1000000L) div (2 * (__n - 1))"))
          .otherwise(lit(500000L)))
      .drop("__cum", "__n")
  }

  /** Bin cap for [[isotonicCalibrate]] — the minimax closed form runs
    * a bins³ lattice join; 128 bins is 2M lattice rows, plenty of
    * resolution for a calibration curve and nothing for a cluster. */
  val MaxIsotonicBins = 128

  /** Isotonic (monotone) calibration of a classifier score — the FIX
    * for what [[graft.scale.TextAnalysis]]'s calibration table and the
    * ECE audit diagnose: fit the best monotone map from binned score
    * to empirical positive rate, so downstream thresholds/budgets can
    * read scores as probabilities. Scores bin equal-width over the
    * PUBLIC [lo, lo + step·nbins) domain (clamped — the
    * [[Privacy.dpNoisyQuantile]] lattice convention); the fit is the
    * PAV solution computed by its MINIMAX closed form,
    * `fit(i) = max_{j≤i} min_{k≥i} avg(pool j..k)` — pure joins and
    * aggregates over the bin lattice, no sequential pooling loop, so
    * BOTH engines derive the identical model (pool averages are single
    * double divisions of exact prefix-sum longs).
    *
    * Output: one row per OBSERVED bin — (bin, bin_lo, n, n_pos,
    * rate_micro (raw, integer), calibrated (the monotone fit, halfUp
    * 6)); broadcast-join on the bin to calibrate a score column.
    * Empty bins carry no data and no constraint — they are absent (no
    * observed score can land in one). NULL labels/scores drop.
    *
    * Scale: ONE corpus aggregate to ≤ nbins rows; everything after is
    * the bins³ ≤ [[MaxIsotonicBins]]³ lattice (2M rows at the cap) —
    * summary-sized, corpus-independent.
    */
  def isotonicCalibrate(
      df: DataFrame, labelCol: String, scoreCol: String,
      domainLo: Long, domainStep: Long, nbins: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Cleaning.qcol
    require(nbins >= 2 && nbins <= MaxIsotonicBins,
      s"isotonicCalibrate: nbins must be in [2, $MaxIsotonicBins], got $nbins")
    require(domainStep > 0, "isotonicCalibrate: domainStep must be positive")
    val lab = qcol(labelCol).cast("boolean")
    val v = qcol(scoreCol).cast("long")
    val hi = domainLo + domainStep * nbins - 1
    val bins = df.filter(lab.isNotNull && v.isNotNull)
      .select(lab.as("__y"),
        (least(greatest(v, lit(domainLo)), lit(hi)) - lit(domainLo)).as("__off"))
      .withColumn("__b", expr(s"__off div $domainStep"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("__y"), 1L)), lit(0L)).as("n_pos"))
    val wCum = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val lat = bins
      .withColumn("__cn", sum(col("n")).over(wCum))
      .withColumn("__cp", sum(col("n_pos")).over(wCum))
    // pool averages over contiguous bin blocks j..k (prefix-sum diffs;
    // the j-1 side joins as the previous row's cums, 0 at the start)
    val left = lat.select(col("__b").as("__j"),
      (col("__cn") - col("n")).as("__cnj"), (col("__cp") - col("n_pos")).as("__cpj"))
    val rightL = lat.select(col("__b").as("__k"),
      col("__cn").as("__cnk"), col("__cp").as("__cpk"))
    val pools = left.crossJoin(rightL).filter(col("__j") <= col("__k"))
      .withColumn("__avg",
        (col("__cpk") - col("__cpj")).cast("double") /
          (col("__cnk") - col("__cnj")).cast("double"))
      .select(col("__j"), col("__k"), col("__avg"))
    val fits = lat.select(col("__b").as("__i")).crossJoin(pools)
      .filter(col("__j") <= col("__i") && col("__k") >= col("__i"))
      .groupBy(col("__i"), col("__j")).agg(min(col("__avg")).as("__m"))
      .groupBy(col("__i")).agg(max(col("__m")).as("__fit"))
    lat.join(fits, col("__b") === col("__i"))
      .select(col("__b").as("bin"),
        (lit(domainLo) + col("__b") * lit(domainStep)).as("bin_lo"),
        col("n"), col("n_pos"),
        expr("(n_pos * 1000000) div n").as("rate_micro"),
        Rounding.halfUp(col("__fit"), 6).as("calibrated"))
  }

  /** Leave-one-out target (mean) encoding with prior smoothing — the
    * categorical-feature prep for any downstream model over tabular
    * data: a category is replaced by the smoothed mean of the target
    * over its OTHER rows, `enc = (Σ_cat − y + m·prior) / (n_cat − 1
    * + m)` with `prior` the global target mean — leave-one-out so a
    * row's own label never leaks into its own feature (the
    * split-leakage rule at the feature level), the `m` pseudo-counts
    * shrinking rare categories toward the prior instead of memorizing
    * them. Rows with a NULL target (serving/eval rows) take the
    * non-LOO form `(Σ_cat + m·prior) / (n_cat + m)` — they contributed
    * nothing, so nothing is held out. NULL categories are a real
    * category (the groupBy convention). A singleton category at m = 0
    * encodes NULL in-band.
    *
    * Determinism: n/sum are exact longs (integral target by contract,
    * the corrMatrix rule); `enc` is ONE derived double (halfUp 6) of
    * exact operands — identical IEEE tree in the oracle.
    *
    * Output: the input columns plus (cat_n, cat_sum, enc).
    *
    * Scale: one hash aggregate to |categories| rows + a 1-row global,
    * both broadcast back over the corpus — one scan, no corpus
    * shuffle.
    */
  def targetEncodeLoo(
      df: DataFrame, catCol: String, targetCol: String,
      priorWeight: Long = 20L): DataFrame = {
    import graft.ops.Cleaning.qcol
    require(priorWeight >= 0, s"targetEncodeLoo: priorWeight must be >= 0")
    df.schema(df.schema.fieldIndex(catCol)) // loud on a missing column
    val dt = df.schema(targetCol).dataType
    require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
      s"targetEncodeLoo requires an integral target for exact long sums; " +
        s"'$targetCol' is ${dt.typeName} — scale to micro longs first")
    val cat = qcol(catCol)
    val y = qcol(targetCol).cast("long")
    val stats = df.filter(y.isNotNull)
      .groupBy(cat.as("__cat"))
      .agg(count(lit(1)).as("cat_n"), sum(y).as("cat_sum"))
    val tot = stats.agg(
      coalesce(sum(col("cat_n")), lit(0L)).as("__tn"),
      coalesce(sum(col("cat_sum")), lit(0L)).as("__ts"))
    val m = priorWeight.toDouble
    val prior = col("__ts").cast("double") / col("__tn").cast("double")
    val looDen = col("cat_n") - 1L + priorWeight
    val fullDen = coalesce(col("cat_n"), lit(0L)) + priorWeight
    df.join(broadcast(stats), cat <=> col("__cat"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("enc",
        when(y.isNotNull,
          when(looDen > 0L, Rounding.halfUp(
            ((col("cat_sum") - y).cast("double") + lit(m) * prior) /
              looDen.cast("double"), 6)))
          .otherwise(when(fullDen > 0L && col("__tn") > 0L, Rounding.halfUp(
            (coalesce(col("cat_sum"), lit(0L)).cast("double") + lit(m) * prior) /
              fullDen.cast("double"), 6))))
      .drop("__cat", "__tn", "__ts")
  }

  /** Combined-lattice cap for [[quantileNormalize]]'s one global
    * as-of window — distinct values across all slices plus the pooled
    * lattice must stay a summary, not a corpus (the mixture-
    * concentration bounded-frame exception). */
  val MaxQuantileNormValues = 65536L

  /** Quantile normalization across slices — map every slice's values
    * onto the POOLED distribution, so scores from different graders
    * (two classifier versions, two reward models, two labs' quality
    * scores) become comparable before any mixing/thresholding uses
    * them together: a slice's value at average rank r (of n) is
    * replaced by the pooled type-1 quantile at rank
    * `⌊(2r−2)·(N−1) / (2n−2)⌋ + 1` (min pooled v with cum ≥ that
    * rank) — computed from the EXACT rank integers, never the rounded
    * percentile (chaining two truncating divisions silently shifts
    * midranks), so a distinct-valued slice normalized against ITSELF
    * maps identically (spec-pinned).
    * Returns the MAPPING lattice (slice, value, ties, pct_micro,
    * mapped_value); broadcast-join it back on (slice, value) to
    * rewrite the corpus.
    *
    * Exactness: percentiles are [[rankNormalize]]'s exact integer
    * average ranks; the pooled threshold is exact ceil-div; the as-of
    * lookup is a frame-based min over the union lattice ordered by
    * (key, probe-first) — probes at a key equal to a pooled cum see
    * that pooled row (inclusive ≥). Engines agree bitwise.
    *
    * Scale: two tie-group aggregates (per-slice and pooled), then the
    * as-of merge runs PER SLICE — the pooled lattice (≤
    * [[MaxQuantileNormValues]] rows by the in-plan guard; band
    * continuous columns first, the ksDrift rule) broadcast-replicates
    * into every slice's partition and the window partitions by slice,
    * so a per-domain normalization over 10⁵ slices parallelizes
    * instead of funneling |slices|·|values| rows through one global
    * window partition. Corpus values shuffle only as their distinct
    * lattice.
    */
  def quantileNormalize(
      df: DataFrame, sliceCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Cleaning.qcol
    val base = df.filter(qcol(sliceCol).isNotNull && qcol(valueCol).isNotNull)
      .select(qcol(sliceCol).as("slice"), qcol(valueCol).cast("long").as("v"))
    // the rankNormalize identity inline, keeping the EXACT rank
    // integers: the threshold must derive from them directly — routing
    // it through the micro-rounded percentile chains two truncating
    // divisions and breaks the self-normalization identity (the spec
    // case that caught it: 4 distinct values, 7 -> 5)
    val wCumS = Window.partitionBy(col("slice")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAllS = Window.partitionBy(col("slice"))
    val slices = base.groupBy(col("slice"), col("v"))
      .agg(count(lit(1)).as("ties"))
      .withColumn("__cum", sum(col("ties")).over(wCumS))
      .withColumn("__sn", sum(col("ties")).over(wAllS))
      .withColumn("__num", lit(2L) * (col("__cum") - col("ties")) + col("ties") - 1L)
      .withColumn("pct_micro",
        when(col("__sn") > 1, expr("(__num * 1000000L) div (2 * (__sn - 1))"))
          .otherwise(lit(500000L)))
    val wPool = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAllPool = Window.partitionBy()
    val pooled = base.groupBy(col("v")).agg(count(lit(1)).as("__c"))
      // lattice-cap guard rides inside the consumed cum column
      .withColumn("__cum",
        when(count(lit(1)).over(wAllPool) > MaxQuantileNormValues,
          raise_error(concat(lit(
            s"quantileNormalize: more than $MaxQuantileNormValues distinct " +
              "values — band the column first ("),
            count(lit(1)).over(wAllPool), lit(" values)"))).cast("long"))
          .otherwise(sum(col("__c")).over(wPool)))
      .withColumn("__n", sum(col("__c")).over(wAllPool))
    // probes: T = floor(num·(N−1) / (2·(n−1))) + 1 from the EXACT rank
    // integers (single-rater slices take the pooled midrank); overflow
    // bound num·(N−1) < 2^63 → rows ≲ 2e9 per side (the rocAuc class)
    val probes = slices.crossJoin(
        broadcast(pooled.agg(max(col("__n")).as("__n"))))
      .withColumn("__key",
        when(col("__sn") > 1,
          expr("(__num * (__n - 1)) div (2 * (__sn - 1)) + 1"))
          .otherwise(expr("(__n - 1) div 2 + 1")))
      .select(col("slice"), col("v"), col("ties"), col("pct_micro"),
        col("__key"), lit(0).as("__tag"), lit(null).cast("long").as("__w"))
    // per-slice as-of: the ≤cap pooled lattice replicates into every
    // slice's partition (broadcast side of the cross join), so the
    // window below partitions by slice — probe rows carry a null __w,
    // so the per-slice suffix-min over (own probes + full pool) equals
    // the old global-window answer bitwise, without the single-
    // partition funnel when |slices| is large
    val poolRows = pooled.select(
      lit(null).cast("long").as("v"), lit(null).cast("long").as("ties"),
      lit(null).cast("long").as("pct_micro"),
      col("__cum").as("__key"), lit(1).as("__tag"), col("v").as("__w"))
    val pool = slices.select(col("slice")).distinct()
      .crossJoin(broadcast(poolRows))
      .select(col("slice"), col("v"), col("ties"), col("pct_micro"),
        col("__key"), col("__tag"), col("__w"))
    val wAsOf = Window.partitionBy(col("slice"))
      .orderBy(col("__key"), col("__tag"))
      .rowsBetween(0, Window.unboundedFollowing)
    probes.unionByName(pool)
      .withColumn("mapped_value", min(col("__w")).over(wAsOf))
      .filter(col("__tag") === 0)
      .select(col("slice"), col("v").as("value"), col("ties"),
        col("pct_micro"), col("mapped_value"))
  }

  /** Equi-DEPTH histogram per slice — the quantile-bucketed complement
    * of the equi-width [[histogram]]: bins hold (approximately) equal
    * row counts instead of equal value ranges, so heavy-tailed columns
    * (doc lengths, scores) get resolution where the mass is. Built on
    * [[rankNormalize]]'s exact average-rank percentile: bin =
    * `min(pct_micro·nbins div 1e6, nbins−1)` — a whole TIE GROUP lands
    * in one bin (values never split), which is the correct equi-depth
    * semantics under ties and keeps everything integer-exact. Output:
    * (slice, bin, n_rows, n_values, lo, hi).
    *
    * Scale: [[rankNormalize]]'s tie-group aggregate + one
    * (slice, bin) rollup — the corpus never sorts.
    */
  def equiDepthHistogram(
      df: DataFrame, sliceCol: String, valueCol: String, nbins: Int = 10): DataFrame = {
    import graft.ops.Cleaning.qcol
    require(nbins >= 2, s"equiDepthHistogram: nbins must be >= 2, got $nbins")
    rankNormalize(df, sliceCol, valueCol)
      .withColumn("bin",
        least(expr(s"(pct_micro * $nbins) div 1000000L"), lit(nbins - 1L)))
      .groupBy(qcol(sliceCol), col("bin"))
      .agg(sum(col("ties")).as("n_rows"),
        count(lit(1)).as("n_values"),
        min(qcol(valueCol)).as("lo"),
        max(qcol(valueCol)).as("hi"))
  }

  /** McNemar's paired test — compare TWO binary judgments over the
    * SAME rows (two quality filters, a filter before/after a change,
    * two raters' accept/reject): the discordant counts n01 (A no,
    * B yes) and n10 (A yes, B no) carry all the evidence of a marginal
    * shift, and the statistic (n01 − n10)²/(n01 + n10) is χ²₁ under
    * "no shift". The unpaired two-proportion z-test wastes the pairing
    * and under-powers — this is the right test when both columns exist
    * per row. Rows with a NULL in either column drop.
    *
    * Output: ONE row — (n, n00, n01, n10, n11, agree_micro, mcnemar);
    * mcnemar NULL when there are no discordant pairs (no evidence
    * either way, in-band).
    *
    * Scale: ONE hash aggregate (four conditional sums) — free.
    */
  def mcnemarTest(
      df: DataFrame, predACol: String, predBCol: String): DataFrame = {
    import graft.ops.Cleaning.qcol
    val a = qcol(predACol).cast("boolean")
    val b = qcol(predBCol).cast("boolean")
    df.filter(a.isNotNull && b.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(!a && !b, 1L)), lit(0L)).as("n00"),
        coalesce(sum(when(!a && b, 1L)), lit(0L)).as("n01"),
        coalesce(sum(when(a && !b, 1L)), lit(0L)).as("n10"),
        coalesce(sum(when(a && b, 1L)), lit(0L)).as("n11"))
      .withColumn("agree_micro",
        when(col("n") > 0, expr("((n00 + n11) * 1000000) div n")))
      .withColumn("mcnemar",
        when(col("n01") + col("n10") > 0, Rounding.halfUp(
          ((col("n01") - col("n10")) * (col("n01") - col("n10"))).cast("double") /
            (col("n01") + col("n10")).cast("double"), 6)))
  }

  /** Level cap per side for [[chiSquareIndependence]] — the dense
    * expected-count lattice is |A|·|B| rows and a chi-square over more
    * levels than this is not a contingency test; the guard rides
    * IN-PLAN below the cross join (the ksDrift rule). */
  val MaxChiSquareLevels = 4096L

  /** The dense chi-square lattice shared by [[chiSquareIndependence]]
    * and [[chiSquareResiduals]]: observed cells, guarded margins, the
    * 1-row total, and the per-cell micro term — one definition so the
    * statistic and its per-cell diagnosis can never drift. */
  private def chiSquareLattice(
      df: DataFrame, colA: String, colB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Cleaning.qcol
    val cells = df.filter(qcol(colA).isNotNull && qcol(colB).isNotNull)
      .groupBy(qcol(colA).as("__va"), qcol(colB).as("__vb"))
      .agg(count(lit(1)).as("__o"))
    // the level-cap guards ride inside the consumed margin columns, so
    // they fire BEFORE the cross join can materialize an oversized
    // lattice (and survive optimization — the consumed-expression rule).
    // Each margin also carries its level count (`levelsCol`), so |A| and
    // |B| come from the margins, not from a distinct count over the
    // lattice, which would plan an Expand.
    def guarded(m: DataFrame, sumCol: String, levelsCol: String, side: String) = {
      val levels = count(lit(1)).over(Window.partitionBy())
      m.withColumn(sumCol,
        when(levels > MaxChiSquareLevels,
          raise_error(concat(lit(s"chiSquareIndependence: more than " +
            s"$MaxChiSquareLevels levels in '$side' — band the column first ("),
            levels, lit(" levels)"))).cast("long"))
          .otherwise(col(sumCol)))
        .withColumn(levelsCol, levels)
    }
    val ra = guarded(cells.groupBy(col("__va")).agg(sum(col("__o")).as("__ra")),
      "__ra", "__na", colA)
    val cb = guarded(cells.groupBy(col("__vb")).agg(sum(col("__o")).as("__cb")),
      "__cb", "__nb", colB)
    val tot = cells.agg(sum(col("__o")).as("__n"))
    val num = (col("__o") * col("__n") - col("__ra") * col("__cb")).cast("double")
    val term = num * num / (col("__ra") * col("__cb")).cast("double") /
      col("__n").cast("double")
    ra.crossJoin(cb).crossJoin(broadcast(tot))
      .join(cells, Seq("__va", "__vb"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
      .withColumn("__tm", floor(term * lit(1000000.0) + lit(0.5)).cast("long"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns, plus Cramér's V — the survey analyst's "are these
    * questions related" screen beside the z-score significance grid.
    * χ² = Σ over the DENSE level lattice of (o−e)²/e with
    * e = rowMargin·colMargin/n; zero-observed cells contribute their
    * full expected mass (dropping them understates the statistic,
    * the classic sparse-crosstab mistake). V = √(χ²/(n·(min(|A|,|B|)−1)))
    * normalizes to [0,1] for effect size across table shapes.
    *
    * Determinism: each cell's term is computed as
    * (o·n − ra·cb)²/(ra·cb·n) — the numerator an EXACT long before the
    * one double division — and micro-rounded per cell before summing
    * (order-invariant, the slice-entropy precedent). Rows with a NULL
    * in either column are dropped. Overflow: o·n ≤ n² needs n ≲ 3e9 —
    * rescale counts upstream past that (the BT countDiv move).
    * min(|A|,|B|) = 1 emits dof 0 and NULL V in-band.
    *
    * Output: ONE row — (n, n_a, n_b, dof, chi2_micro, cramers_v).
    *
    * Scale: one corpus hash aggregate to the observed cells, two
    * margin rollups, a dense |A|·|B| lattice join (both sides guarded
    * at [[MaxChiSquareLevels]] IN-PLAN, below the cross join), one
    * 1-row epilogue. The corpus is touched once.
    */
  def chiSquareIndependence(
      df: DataFrame, colA: String, colB: String): DataFrame = {
    val lat = chiSquareLattice(df, colA, colB)
    lat.agg(
        max(col("__n")).as("n"),
        coalesce(max(col("__na")), lit(0L)).as("n_a"),
        coalesce(max(col("__nb")), lit(0L)).as("n_b"),
        sum(col("__tm")).as("chi2_micro"))
      // empty/all-NULL input collapses the lattice to n_a = n_b = 0;
      // (0-1)*(0-1) = 1 would be a misleading dof — emit NULL instead
      .withColumn("dof",
        when(col("n_a") > 0 && col("n_b") > 0,
          (col("n_a") - 1L) * (col("n_b") - 1L)))
      .withColumn("cramers_v",
        when(col("n") > 0 && least(col("n_a"), col("n_b")) > 1L,
          Rounding.halfUp(sqrt(
            col("chi2_micro").cast("double") / lit(1000000.0) /
              (col("n") * (least(col("n_a"), col("n_b")) - 1L)).cast("double")), 6)))
      .select(col("n"), col("n_a"), col("n_b"), col("dof"),
        col("chi2_micro"), col("cramers_v"))
  }

  /** Per-cell ADJUSTED residuals for the chi-square lattice — the
    * "which cells drive the association" diagnosis behind
    * [[chiSquareIndependence]]'s one number: r = (o − e) /
    * √(e·(1 − ra/n)·(1 − cb/n)), approximately standard normal under
    * independence, so |r| > 2 flags a cell (the Haberman residual).
    * Same dense lattice, same guards, same exact-long inputs; the
    * residual is the one derived double (halfUp 6). Output per cell:
    * (val_a, val_b, o, e, residual, term_micro).
    *
    * Scale: identical to [[chiSquareIndependence]] — the lattice IS
    * the output here, |A|·|B| rows.
    */
  def chiSquareResiduals(
      df: DataFrame, colA: String, colB: String): DataFrame = {
    val lat = chiSquareLattice(df, colA, colB)
    val e = (col("__ra") * col("__cb")).cast("double") / col("__n").cast("double")
    val denom = sqrt(e *
      (lit(1.0) - col("__ra").cast("double") / col("__n").cast("double")) *
      (lit(1.0) - col("__cb").cast("double") / col("__n").cast("double")))
    lat.select(
      col("__va").as("val_a"), col("__vb").as("val_b"), col("__o").as("o"),
      Rounding.halfUp(e, 6).as("e"),
      when(denom > 0,
        Rounding.halfUp((col("__o").cast("double") - e) / denom, 6)).as("residual"),
      col("__tm").as("term_micro"))
  }

  /** EXACT tie-corrected ROC-AUC per slice, by the rank-sum identity
    * (Mann-Whitney): AUC = P(score⁺ > score⁻) + ½P(score⁺ = score⁻) =
    * (R₂ − n₊(n₊+1)) / (2·n₊·n₋), where R₂ is TWICE the average-rank
    * sum of the positives — kept in doubled-rank units so ties stay
    * integer-exact (avg rank of a tie group is a half-integer; its
    * double `2·cum − ties + 1` is a whole long). The classifier-eval
    * number beside the calibration table: calibration says whether
    * score VALUES mean anything; AUC says whether the ORDERING does.
    *
    * Contract (the [[rankNormalize]] family's): scores must be
    * integral (micro-scale upstream); rows with a NULL slice, label,
    * or score are dropped (an unlabeled eval row is meaningless). A
    * single-class slice (n₊=0 or n₋=0) emits NULL auc in-band —
    * audits report, never throw. Output: (slice, n_pos, n_neg,
    * rank2_pos, auc) — the exact integers beside the one derived
    * double (halfUp 6).
    *
    * Scale: ONE (slice, score) tie-group aggregate, one per-slice
    * cumulative window over DISTINCT SCORES (the weighted-quantile
    * pattern — the corpus never sorts), one |slices|-row rollup.
    * Overflow: R₂ ≤ 2n², so n ≲ 2e9 per slice fits a long — rescale
    * counts upstream past that (the BT countDiv move).
    */
  def rocAuc(
      df: DataFrame, sliceCol: String, labelCol: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Cleaning.qcol
    val g = df
      .filter(qcol(sliceCol).isNotNull && qcol(labelCol).isNotNull &&
        qcol(scoreCol).isNotNull)
      .groupBy(qcol(sliceCol).as("slice"), qcol(scoreCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"),
        coalesce(sum(when(qcol(labelCol).cast("boolean"), 1L)), lit(0L)).as("__p"))
    val wCum = Window.partitionBy(col("slice")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    g.withColumn("__cum", sum(col("__c")).over(wCum))
      .groupBy(col("slice"))
      .agg(
        sum(col("__p")).as("n_pos"),
        sum(col("__c") - col("__p")).as("n_neg"),
        sum(col("__p") * (lit(2L) * col("__cum") - col("__c") + 1L)).as("rank2_pos"))
      .withColumn("auc",
        when(col("n_pos") > 0 && col("n_neg") > 0,
          Rounding.halfUp(
            (col("rank2_pos") - col("n_pos") * (col("n_pos") + 1L)).cast("double") /
              (lit(2L) * col("n_pos") * col("n_neg")).cast("double"), 6)))
  }

  /** Precision / recall / F1 at a literal THRESHOLD LIST per slice —
    * the operating-point table a filter pipeline reads before pinning
    * a score cutoff (predict positive ⟺ score ≥ t, the quality-floor
    * convention). Thresholds are a config-sized design, never a data
    * scan: the whole table is ONE corpus aggregate carrying
    * 2·|thresholds|+2 conditional sums, melted to (slice, threshold)
    * rows after the aggregate (the contextFitAudit shape — the melt
    * explodes the aggregate row, never the corpus).
    *
    * All ratios in integer micro (`1e6·x div y`), NULL when the
    * denominator is 0 (no predicted positives / no actual positives)
    * — in-band like every audit. F1 = 2PR/(P+R) computed from the
    * micro P and R with one final div, exact to the grid. Same NULL
    * and integrality contract as [[rocAuc]].
    *
    * Output: (slice, threshold, n, n_pos, tp, fp, fn,
    * precision_micro, recall_micro, f1_micro).
    */
  def prAtThresholds(
      df: DataFrame, sliceCol: String, labelCol: String, scoreCol: String,
      thresholds: Seq[Long]): DataFrame = {
    import graft.ops.Cleaning.qcol
    require(thresholds.nonEmpty, "prAtThresholds: thresholds must be non-empty")
    require(thresholds.distinct.size == thresholds.size,
      s"prAtThresholds: duplicate thresholds in $thresholds")
    val lab = qcol(labelCol).cast("boolean")
    val v = qcol(scoreCol).cast("long")
    val base = df.filter(qcol(sliceCol).isNotNull && lab.isNotNull && v.isNotNull)
    val sums = thresholds.sorted.flatMap { t =>
      Seq(
        coalesce(sum(when(lab && v >= t, 1L)), lit(0L)).as(s"__tp_$t"),
        coalesce(sum(when(!lab && v >= t, 1L)), lit(0L)).as(s"__fp_$t"))
    }
    val aggCols = Seq(count(lit(1)).as("n"),
      coalesce(sum(when(lab, 1L)), lit(0L)).as("n_pos")) ++ sums
    val agg = base.groupBy(qcol(sliceCol).as("slice"))
      .agg(aggCols.head, aggCols.tail: _*)
    val rows = thresholds.sorted.map { t =>
      struct(lit(t).as("threshold"), col(s"__tp_$t").as("tp"),
        col(s"__fp_$t").as("fp"))
    }
    agg
      .select(col("slice"), col("n"), col("n_pos"),
        explode(array(rows: _*)).as("__r"))
      .select(col("slice"), col("__r.threshold").as("threshold"),
        col("n"), col("n_pos"), col("__r.tp").as("tp"), col("__r.fp").as("fp"))
      .withColumn("fn", col("n_pos") - col("tp"))
      .withColumn("precision_micro",
        when(col("tp") + col("fp") > 0,
          expr("(tp * 1000000L) div (tp + fp)")))
      .withColumn("recall_micro",
        when(col("n_pos") > 0, expr("(tp * 1000000L) div n_pos")))
      .withColumn("f1_micro",
        when(col("precision_micro").isNotNull && col("recall_micro").isNotNull
            && col("precision_micro") + col("recall_micro") > 0,
          expr("(2 * precision_micro * recall_micro) div (precision_micro + recall_micro)")))
  }

  /** Welch's unequal-variance t-test between two slices of an
    * integral-valued metric column (the A/B gate for "did the new
    * filter change mean doc length / score / cost"): t = (m_a − m_b) /
    * √(s²_a/n_a + s²_b/n_b) with the Welch–Satterthwaite degrees of
    * freedom. Means and sample variances derive from EXACT long
    * moments (n, Σv, Σv²) — variance as (n·Σv² − (Σv)²) / (n·(n−1)),
    * every numerator an exact integer — so both engines evaluate the
    * identical double expression tree (the corrMatrix argument).
    * n < 2 on either side, or zero pooled standard error (two
    * constants), yields NULL t/df in-band. Output: (n_a, n_b, mean_a,
    * mean_b, t_welch, df_welch) — doubles halfUp 6.
    *
    * Scale: ONE conditional hash aggregate over the corpus to a 1-row
    * frame; nothing sorts, nothing shuffles beyond the partial-agg
    * tree.
    */
  def welchTTest(
      df: DataFrame, sliceCol: String, valueCol: String,
      sliceA: String, sliceB: String): DataFrame = {
    require(sliceA != sliceB, "welchTTest: slices must differ")
    val v = Cleaning.qcol(valueCol).cast("long")
    val s = Cleaning.qcol(sliceCol).cast("string")
    val m = df.filter(v.isNotNull && (s === sliceA || s === sliceB))
      .agg(
        coalesce(sum(when(s === sliceA, 1L)), lit(0L)).as("n_a"),
        coalesce(sum(when(s === sliceA, v)), lit(0L)).as("__sa"),
        coalesce(sum(when(s === sliceA, v * v)), lit(0L)).as("__qa"),
        coalesce(sum(when(s === sliceB, 1L)), lit(0L)).as("n_b"),
        coalesce(sum(when(s === sliceB, v)), lit(0L)).as("__sb"),
        coalesce(sum(when(s === sliceB, v * v)), lit(0L)).as("__qb"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val meanA = d(col("__sa")) / d(col("n_a"))
    val meanB = d(col("__sb")) / d(col("n_b"))
    // sample variance from exact integer numerators
    val varA = (d(col("n_a")) * d(col("__qa")) - d(col("__sa")) * d(col("__sa"))) /
      (d(col("n_a")) * (d(col("n_a")) - 1.0))
    val varB = (d(col("n_b")) * d(col("__qb")) - d(col("__sb")) * d(col("__sb"))) /
      (d(col("n_b")) * (d(col("n_b")) - 1.0))
    val seA = varA / d(col("n_a"))
    val seB = varB / d(col("n_b"))
    val se2 = seA + seB
    val t = (meanA - meanB) / sqrt(se2)
    val dfW = (se2 * se2) /
      (seA * seA / (d(col("n_a")) - 1.0) + seB * seB / (d(col("n_b")) - 1.0))
    val ok = col("n_a") >= 2L && col("n_b") >= 2L
    m.select(
      col("n_a"), col("n_b"),
      when(col("n_a") > 0, Rounding.halfUp(meanA, 6)).as("mean_a"),
      when(col("n_b") > 0, Rounding.halfUp(meanB, 6)).as("mean_b"),
      when(ok && se2 > 0, Rounding.halfUp(t, 6)).as("t_welch"),
      when(ok && se2 > 0, Rounding.halfUp(dfW, 6)).as("df_welch"))
  }

  /** Distinct-value cap for [[spearmanCorr]]'s two rank lattices —
    * each broadcasts back to the corpus, so it must stay
    * summary-sized (band continuous columns first, the ksDrift
    * contract). */
  val MaxSpearmanValues = 100000L

  /** Spearman rank correlation between two integral-valued columns —
    * the monotone-association complement of [[corrMatrix]]'s Pearson
    * (quality score vs doc length, model score vs human rank): Pearson
    * over average ranks, ties handled by midranks. Ranks stay EXACT
    * integers throughout by working with DOUBLED ranks (midrank of a
    * tie group is a half-integer; its double `2·cum − ties + 1` is a
    * whole long — the rocAuc trick), and the moment sums are exact
    * DECIMAL(38,0) (doubled-rank products overflow a long past ~1.3M
    * rows); the final Pearson is one double expression over those
    * exact integers, identical in both engines. Rows with a NULL on
    * either side drop (complete-case, the standard definition).
    * Output: (n, rho) — rho halfUp 6, NULL when either side is
    * constant (zero rank variance) or n < 2.
    *
    * Scale: two tie-group lattices (each ≤ [[MaxSpearmanValues]] by
    * the in-plan guard, each broadcast back to the corpus) + ONE
    * moments aggregate — the corpus is scanned twice (lattices) + once
    * (moments) and never sorts.
    */
  def spearmanCorr(
      df: DataFrame, xCol: String, yCol: String,
      maxDistinctValues: Long = MaxSpearmanValues): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDistinctValues > 0, "spearmanCorr: maxDistinctValues must be positive")
    val x = Cleaning.qcol(xCol).cast("long")
    val y = Cleaning.qcol(yCol).cast("long")
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("__x"), y.as("__y"))
    def rankLattice(c: String, out: String): DataFrame = {
      val wCum = Window.orderBy(col(c)).rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy()
      base.groupBy(col(c)).agg(count(lit(1)).as("__t"))
        .withColumn("__guard",
          when(count(lit(1)).over(wAll) > maxDistinctValues,
            raise_error(concat(lit(
              s"spearmanCorr: more than $maxDistinctValues distinct values in '$c'" +
                " — band the column first"), lit(""))).cast("long"))
            .otherwise(col("__t")))
        .withColumn("__cum", sum(col("__guard")).over(wCum))
        // doubled average rank of the tie group: 2*cum - ties + 1
        .select(col(c), (lit(2L) * col("__cum") - col("__t") + 1L).as(out))
    }
    val withRanks = base
      .join(broadcast(rankLattice("__x", "__rx")), Seq("__x"))
      .join(broadcast(rankLattice("__y", "__ry")), Seq("__y"))
    val dec = "decimal(38,0)"
    val m = withRanks.agg(
      count(lit(1)).as("n"),
      sum(col("__rx").cast(dec)).as("__sx"),
      sum(col("__ry").cast(dec)).as("__sy"),
      sum((col("__rx") * col("__ry")).cast(dec)).as("__sxy"),
      sum((col("__rx") * col("__rx")).cast(dec)).as("__sxx"),
      sum((col("__ry") * col("__ry")).cast(dec)).as("__syy"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val n = d(col("n"))
    val cov = n * d(col("__sxy")) - d(col("__sx")) * d(col("__sy"))
    val vx = n * d(col("__sxx")) - d(col("__sx")) * d(col("__sx"))
    val vy = n * d(col("__syy")) - d(col("__sy")) * d(col("__sy"))
    m.select(col("n"),
      when(col("n") >= 2 && vx > 0 && vy > 0,
        Rounding.halfUp(cov / (sqrt(vx) * sqrt(vy)), 6)).as("rho"))
  }

  /** Per-slice two-sample KS against the REST of the corpus, with the
    * asymptotic p-value — the many-slice drift screen feeding
    * [[bhReject]] (ksDrift answers "did THESE two slices drift";
    * this answers "WHICH of my 200 domains drifted", FDR-controlled):
    * per slice, D = max over the value lattice of |CDF_slice −
    * CDF_rest| (exact integer cross-products, the ksDrift form), and
    * p from the standard asymptotic series Q(λ) = 2·Σ_{k=1..8}
    * (−1)^{k−1} e^{−2k²λ²} at λ = (√m + 0.12 + 0.11/√m)·D,
    * m = n_a·n_b/(n_a+n_b) (Numerical-Recipes form; a fixed
    * left-to-right 8-term fold, micro-rounded — the dpNoisyCounts
    * exp/log parity class). Output per slice: (slice, n_slice,
    * n_rest, d_micro, p_micro).
    *
    * Scale: ONE (slice, value) aggregate + a broadcast of the ≤cap
    * value lattice replicated per slice (the quantileNormalize
    * pattern — the per-slice window parallelizes across slices), and
    * a |slices|-row rollup. The lattice cap guard rides in-plan.
    */
  def ksDriftBySlice(
      df: DataFrame, valueCol: String, sliceCol: String,
      maxDistinctValues: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDistinctValues > 0, "ksDriftBySlice: maxDistinctValues must be positive")
    val v = Cleaning.toNumeric(Cleaning.qcol(valueCol))
    val s = Cleaning.qcol(sliceCol).cast("string")
    val counts = df.filter(v.isNotNull && s.isNotNull)
      .groupBy(s.as("slice"), v.as("__v"))
      .agg(count(lit(1)).as("__c"))
    val wLat = Window.orderBy(col("__v")).rowsBetween(Window.unboundedPreceding, 0)
    // global value lattice with pooled cumulative counts; the cap
    // guard rides inside the consumed cumulative input (the ksDrift
    // broadcast-totals form — a window nested in a window argument is
    // not expressible)
    val latCounts = counts.groupBy(col("__v")).agg(sum(col("__c")).as("__cv"))
    val tot = latCounts.agg(count(lit(1)).as("__nv"),
      coalesce(sum(col("__cv")), lit(0L)).as("__n"))
    val guarded = when(col("__nv") > maxDistinctValues,
      raise_error(concat(lit(
        s"ksDriftBySlice: value lattice exceeds $maxDistinctValues distinct values"),
        lit(" — band the column first"))).cast("long"))
      .otherwise(col("__cv"))
    val lattice = latCounts.crossJoin(broadcast(tot))
      .withColumn("__cumall", sum(guarded).over(wLat))
    val slices = counts.groupBy(col("slice")).agg(sum(col("__c")).as("n_slice"))
    // replicate the bounded lattice into every slice's partition
    val grid = slices.crossJoin(broadcast(
        lattice.select(col("__v"), col("__cumall"), col("__n"))))
      .join(counts, Seq("slice", "__v"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val wCum = Window.partitionBy(col("slice")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid.withColumn("__cums", sum(col("__c")).over(wCum))
      .withColumn("__nrest", col("__n") - col("n_slice"))
      // |CDF_s - CDF_rest| in exact integer cross-products
      .withColumn("__dd", abs(
        col("__cums") * col("__nrest") -
          (col("__cumall") - col("__cums")) * col("n_slice")))
    val agg = cum.groupBy(col("slice"))
      .agg(first(col("n_slice")).as("n_slice"),
        first(col("__nrest")).as("n_rest"),
        max(col("__dd")).as("__d"))
      .filter(col("n_rest") > 0)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val dStat = d(col("__d")) / (d(col("n_slice")) * d(col("n_rest")))
    val em = sqrt(d(col("n_slice")) * d(col("n_rest")) /
      (d(col("n_slice")) + d(col("n_rest"))))
    val lam = (em + lit(0.12) + lit(0.11) / em) * dStat
    // fixed left-to-right 8-term fold (both engines evaluate the
    // identical tree; micro-rounding absorbs last-ulp exp variance)
    val q = (1 to 8).map { k =>
      val term = exp(lit(-2.0 * k * k) * lam * lam) * lit(2.0)
      if (k % 2 == 1) term else term * lit(-1.0)
    }.reduce(_ + _)
    agg.select(col("slice"), col("n_slice"), col("n_rest"),
      floor(dStat * lit(1000000.0) + lit(0.5)).cast("long").as("d_micro"),
      greatest(lit(0L), least(lit(1000000L),
        floor(q * lit(1000000.0) + lit(0.5)).cast("long"))).as("p_micro"))
  }

  /** Benjamini–Hochberg FDR selection over a table of test p-values
    * (the [[ksDriftBySlice]] epilogue, and any other family of
    * simultaneous tests): sort p ascending (key breaks ties), reject
    * every test at rank ≤ the LARGEST i with p_i·m ≤ i·q — all in
    * exact integer arithmetic on micro units. Output: (key, p_micro,
    * rank, bh_bound_micro = ⌊rank·q/m⌋, rejected).
    *
    * Scale: the input is a TEST table (one row per hypothesis —
    * slices, metrics), summary-sized by nature; the global-order
    * window rides that lattice, never a corpus (the repo's
    * summary-window convention).
    */
  def bhReject(
      tests: DataFrame, keyCol: String, pMicroCol: String,
      qMicro: Long = 50000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qMicro > 0 && qMicro <= 1000000L,
      s"bhReject: qMicro must be in (0, 1e6], got $qMicro")
    val k = Cleaning.qcol(keyCol)
    val p = Cleaning.qcol(pMicroCol).cast("long")
    val base = tests.filter(k.isNotNull && p.isNotNull)
      .select(k.as("key"), p.as("p_micro"))
    val wRank = Window.orderBy(col("p_micro"), col("key"))
    val wAll = Window.partitionBy()
    val ranked = base
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("__hit",
        when(col("p_micro") * col("__m") <= col("rank") * lit(qMicro),
          col("rank")))
    ranked
      .withColumn("__cut", max(col("__hit")).over(wAll))
      .select(col("key"), col("p_micro"), col("rank"),
        expr(s"(rank * $qMicro) div __m").as("bh_bound_micro"),
        (col("__cut").isNotNull && col("rank") <= col("__cut")).as("rejected"))
  }

  /** Poisson(1) inverse-CDF thresholds in [[graft.functions.PortableHash.P]]
    * units: replicate membership count = index of the first threshold
    * ABOVE the per-(key, replica) uniform, capped at 8 (P(X >= 8) ~
    * 1e-5 truncated — the standard tail cut). Computed ONCE here and
    * interpolated literally into the oracle SQL (never re-derived). */
  val PoissonThresholdsP: Seq[Long] = {
    val p = graft.functions.PortableHash.P
    var cdf = 0.0
    var fact = 1.0
    (0 to 7).map { k =>
      if (k > 0) fact *= k
      cdf += math.exp(-1.0) / fact
      math.floor(cdf * p).toLong
    }
  }

  /** Per-replica decorrelation multipliers for [[bootstrapMeanCI]]:
    * one affine-hash round of (seed, r), pinned driver-side so the
    * oracle embeds the identical literals. Zero (u would collapse to
    * the replica constant) bumps to 1. */
  def bootstrapMultipliers(replicas: Int, seed: Long): Seq[Long] = {
    val p = graft.functions.PortableHash.P
    val s0 = java.lang.Math.floorMod(seed, p)
    (0 until replicas).map { r =>
      val m = ((s0 * 8191L + r) % p * graft.functions.PortableHash.MulA +
        graft.functions.PortableHash.AddB) % p
      if (m == 0L) 1L else m
    }
  }

  /** Poisson-bootstrap confidence interval for a per-group mean — the
    * error bar on ANY corpus average (mean doc quality, mean order
    * value, mean tokens/doc) without resampling passes: classical
    * bootstrap re-draws the corpus R times, which is R full scans; the
    * Poisson approximation (each row enters replicate r Poisson(1)
    * times, Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams") collapses all R replicates into ONE aggregate, because
    * a row's R membership counts are pure functions of its key.
    *
    * Determinism/parity: the per-(key, replica) uniform is one
    * multiplicative round over the portable affine hash — u = ((h+1) *
    * m_r + r) mod P with per-replica multipliers pinned at plan build
    * ([[bootstrapMultipliers]]) — and the Poisson draw is a fixed
    * integer threshold chain ([[PoissonThresholdsP]]), so every count,
    * sum, and replicate mean is exact integer arithmetic both engines
    * replay bit-identically. Replicate and overall means are
    * sign-factored truncating division (micro units), so negative
    * value columns stay engine-exact too. The percentile-method CI
    * takes order statistics rank floor(live * alphaPct / 200) + 1 and
    * live − floor(live * alphaPct / 200) among the live (nonzero-mass)
    * replicate means, ties broken by replica id.
    *
    * Output per group: (group, n, mean_micro, ci_lo_micro, ci_hi_micro,
    * n_live) — n_live = replicates with nonzero mass (all R at any
    * realistic group size; a group so small that a replicate draws
    * empty simply drops that replicate, the standard treatment).
    *
    * Scale: ONE corpus hash aggregate carrying 2R+2 conditional sums
    * (codegen'd threshold chains, no row fan-out — the oracle explodes
    * rows x R; the engine never does) to |groups| rows, then an R-row
    * per-group lattice: explode, one bounded window (partitioned BY
    * GROUP, frame = R replicate means), one |groups|-row join. Mean
    * numerators route through decimal(38) (sum·1e6 overflows a long
    * past ~9e12 group mass — the sf1 gate caught the sibling DiD
    * doing this in longs); sums themselves stay exact longs under
    * ANSI, loud past ~9e18.
    */
  def bootstrapMeanCI(
      df: DataFrame, groupCol: String, valueCol: String, keyCol: String,
      replicas: Int = 64, alphaPct: Int = 5, seed: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(replicas >= 4 && replicas <= 512,
      s"bootstrapMeanCI: replicas must be in [4, 512], got $replicas")
    require(alphaPct >= 1 && alphaPct <= 50,
      s"bootstrapMeanCI: alphaPct must be in [1, 50], got $alphaPct")
    val kt = df.schema(keyCol).dataType.typeName
    require(Seq("long", "integer", "short", "byte").contains(kt),
      s"bootstrapMeanCI: key column '$keyCol' must be integral (got $kt) — " +
        "a non-integral key would not hash portably")
    val g = Cleaning.qcol(groupCol)
    val v = Cleaning.qcol(valueCol).cast("long")
    val base = df
      .filter(g.isNotNull && v.isNotNull && Cleaning.qcol(keyCol).isNotNull)
      .select(g.as("grp"), v.as("x"),
        graft.functions.PortableHash.affineHash(Cleaning.qcol(keyCol)).as("__h"))
    val ms = bootstrapMultipliers(replicas, seed)
    val ts = PoissonThresholdsP
    // r15 (guide step 4, expressions/codegen): the 2R conditional sums
    // were 2R separate when-chain aggregate expressions evaluated per
    // row (R = 64 → ~130 interpreted expression trees); BootstrapSums
    // computes the identical long partials in ONE tight loop per row
    // (same pmod/threshold arithmetic, long sums are order-free — the
    // oracle is untouched).
    val aggCols = Seq(count(lit(1)).as("n"),
      coalesce(sum(col("x")), lit(0L)).as("__sx"),
      graft.functions.Aggregates.bootstrapSums(
        col("x"), col("__h"), ms.toArray, ts.toArray).as("__bs"))
    val agg = base.groupBy(col("grp"))
      .agg(aggCols.head, aggCols.tail: _*)
      .localCheckpoint(eager = false) // |groups| rows, read by totals AND the melt
    val reps = (0 until replicas).map(r =>
      struct(lit(r.toLong).as("r"),
        element_at(col("__bs"), 2 * r + 1).as("s"),
        element_at(col("__bs"), 2 * r + 2).as("nr")))
    val live = agg
      .select(col("grp"), explode(array(reps: _*)).as("__e"))
      .select(col("grp"), col("__e.r").as("r"), col("__e.s").as("s"),
        col("__e.nr").as("nr"))
      .filter(col("nr") > 0L)
      // replicate means through decimal(38): a replicate carries up to
      // ~3x a group's micro-mass, which overflows the long product
      // past ~3e12 group mass (the DiD sf1 lesson, applied here too)
      .select(col("grp"), col("r"),
        expr("CASE WHEN s < 0 " +
          "THEN -((-CAST(s AS DECIMAL(38,0)) * 1000000) div nr) " +
          "ELSE (CAST(s AS DECIMAL(38,0)) * 1000000) div nr END").as("m"))
    val wG = Window.partitionBy(col("grp")).orderBy(col("m"), col("r"))
    val wAll = Window.partitionBy(col("grp"))
    val ranked = live
      .withColumn("rk", row_number().over(wG).cast("long"))
      .withColumn("nl", count(lit(1)).over(wAll))
    val loRk = expr(s"(nl * $alphaPct) div 200") + lit(1L)
    val hiRk = col("nl") - expr(s"(nl * $alphaPct) div 200")
    val ci = ranked.groupBy(col("grp")).agg(
      min(when(col("rk") === loRk, col("m"))).as("ci_lo_micro"),
      min(when(col("rk") === hiRk, col("m"))).as("ci_hi_micro"),
      max(col("nl")).as("n_live"))
    agg
      .select(col("grp"), col("n"),
        expr("CASE WHEN __sx < 0 " +
          "THEN -((-CAST(__sx AS DECIMAL(38,0)) * 1000000) div n) " +
          "ELSE (CAST(__sx AS DECIMAL(38,0)) * 1000000) div n END")
          .as("mean_micro"))
      .join(ci, Seq("grp"), "left")
      .select(col("grp").as(groupCol), col("n"), col("mean_micro"),
        col("ci_lo_micro"), col("ci_hi_micro"),
        coalesce(col("n_live"), lit(0L)).as("n_live"))
  }

  /** Mann-Whitney U z-test between two slices of an integral metric —
    * the nonparametric partner of [[welchTTest]] (rank-based: robust
    * to the heavy-tailed length/score distributions where a mean test
    * is driven by outliers) and the significance layer over
    * [[rocAuc]]'s effect size (AUC = U/(n_a·n_b); this adds the
    * tie-corrected normal z for "is it real"). Doubled midranks over
    * the value tie-group lattice keep every rank a whole long (the
    * [[spearmanCorr]] machinery); U, the rank sum, and the tie
    * correction T = Σ(t³−t) are exact integers (decimal(38) sums), and
    * z = (2U − n_a·n_b) / (2·σ) with σ² = (n_a·n_b/12)·((N+1) −
    * T/(N·(N−1))) evaluates ONE fixed double tree both engines replay
    * bit-identically. Output (1 row): n_a, n_b, u2_a (= 2·U_a, whole
    * even with .5-valued ties), z_mw (halfUp-6; NULL in-band when a
    * side is empty or every value ties — σ = 0 means the test is
    * undefined, not significant).
    *
    * Scale: ONE (value) tie-group aggregate (cap-guarded in-plan, the
    * spearman contract) + one cumulative window over DISTINCT values +
    * a 1-row rollup — the corpus is scanned once and never sorted.
    */
  def mannWhitneyZ(
      df: DataFrame, sliceCol: String, valueCol: String,
      sliceA: String, sliceB: String,
      maxDistinctValues: Long = MaxSpearmanValues): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(sliceA != sliceB, "mannWhitneyZ: slices must differ")
    val sl = Cleaning.qcol(sliceCol).cast("string")
    val v = Cleaning.qcol(valueCol).cast("long")
    val base = df.filter(v.isNotNull && sl.isin(sliceA, sliceB))
      .select(sl.as("__s"), v.as("__v"))
    val wCum = Window.orderBy(col("__v")).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    val dec = "decimal(38,0)"
    val lat = base.groupBy(col("__v")).agg(
        coalesce(sum(when(col("__s") === sliceA, 1L)), lit(0L)).as("__ca"),
        count(lit(1)).as("__t"))
      .withColumn("__guard",
        when(count(lit(1)).over(wAll) > maxDistinctValues,
          raise_error(lit(s"mannWhitneyZ: more than $maxDistinctValues distinct " +
            "values — band the column first")).cast("long"))
          .otherwise(col("__t")))
      .withColumn("__cum", sum(col("__guard")).over(wCum))
      .withColumn("__r2", lit(2L) * col("__cum") - col("__t") + 1L)
    val m = lat.agg(
      coalesce(sum(col("__ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("__t") - col("__ca")), lit(0L)).as("n_b"),
      // __ca widens BEFORE the multiply: the oracle runs the same sum
      // in HUGEINT throughout, and a long product would fail loudly
      // (ANSI) at corpus sizes where the oracle still succeeds
      coalesce(sum(col("__ca").cast(dec) * col("__r2")), lit(0L).cast(dec)).as("__r2a"),
      coalesce(sum(col("__t").cast(dec) * col("__t") * col("__t") - col("__t")),
        lit(0L).cast(dec)).as("__tie"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val na = d(col("n_a")); val nb = d(col("n_b")); val nn = na + nb
    val num = d(col("__r2a")) - na * (na + lit(1.0)) - na * nb
    val varU = (na * nb / lit(12.0)) *
      ((nn + lit(1.0)) - d(col("__tie")) / (nn * (nn - lit(1.0))))
    m.select(col("n_a"), col("n_b"),
      (col("__r2a") - col("n_a").cast(dec) * (col("n_a").cast(dec) + lit(1L)))
        .cast("long").as("u2_a"),
      when(col("n_a") >= 1L && col("n_b") >= 1L && varU > lit(0.0),
        Rounding.halfUp(num / (lit(2.0) * sqrt(varU)), 6)).as("z_mw"))
  }

  /** Difference-in-differences — the pre/post × treat/control estimate
    * behind "did the deploy move the metric, beyond what moved
    * anyway": DiD = (mean_treat_post − mean_treat_pre) −
    * (mean_ctrl_post − mean_ctrl_pre). The naive post-only comparison
    * ([[welchTTest]] on the post window) conflates the treatment with
    * whatever drifted for everyone; DiD nets the common drift out
    * under the parallel-trends assumption (stated, not tested — eyeball
    * [[groupTrend]] on the pre window first).
    *
    * Callers pass two BOOLEAN columns (treatment membership,
    * post-period membership) so any predicate — group lists, date
    * cuts, config flags — works without the operator guessing
    * semantics. Rows with a NULL flag or value are dropped.
    *
    * Determinism: four conditional (count, sum) pairs in ONE
    * aggregate; each cell mean is a sign-factored truncating division
    * to micro, and the DiD is integer subtraction of those four micro
    * means — bit-identical cross-engine. Any empty cell yields NULL
    * means for it and a NULL DiD in-band.
    *
    * Scale: ONE corpus hash aggregate to a single row; no shuffle
    * beyond the partial-agg tree, no join.
    */
  def diffInDiff(
      df: DataFrame, treatCol: String, postCol: String,
      valueCol: String): DataFrame = {
    val tr = Cleaning.qcol(treatCol).cast("boolean")
    val po = Cleaning.qcol(postCol).cast("boolean")
    val v = Cleaning.qcol(valueCol).cast("long")
    val base = df.filter(tr.isNotNull && po.isNotNull && v.isNotNull)
      .select(tr.as("__t"), po.as("__p"), v.as("__v"))
    def cell(t: Boolean, p: Boolean, suf: String) = Seq(
      coalesce(sum(when(col("__t") === t && col("__p") === p, 1L)), lit(0L))
        .as(s"n_$suf"),
      coalesce(sum(when(col("__t") === t && col("__p") === p, col("__v"))), lit(0L))
        .as(s"__s_$suf"))
    val aggCols = cell(true, false, "treat_pre") ++ cell(true, true, "treat_post") ++
      cell(false, false, "ctrl_pre") ++ cell(false, true, "ctrl_post")
    val m = base.agg(aggCols.head, aggCols.tail: _*)
    // micro means through decimal(38): a cell carrying > ~9e12 mass
    // would overflow the long product (the sf1 gate caught exactly
    // this); the mean itself always fits a long
    def mean(suf: String) =
      when(col(s"n_$suf") > 0L,
        expr(s"CASE WHEN __s_$suf < 0 " +
          s"THEN -((-CAST(__s_$suf AS DECIMAL(38,0)) * 1000000) div n_$suf) " +
          s"ELSE (CAST(__s_$suf AS DECIMAL(38,0)) * 1000000) div n_$suf END"))
        .as(s"mean_${suf}_micro")
    m.select(col("n_treat_pre"), col("n_treat_post"),
        col("n_ctrl_pre"), col("n_ctrl_post"),
        mean("treat_pre"), mean("treat_post"),
        mean("ctrl_pre"), mean("ctrl_post"))
      .withColumn("did_micro",
        (col("mean_treat_post_micro") - col("mean_treat_pre_micro")) -
          (col("mean_ctrl_post_micro") - col("mean_ctrl_pre_micro")))
  }

  /** Group cap for [[anovaF]] / [[kruskalWallis]]'s per-group fold —
    * the k-row group table collects into ONE array for the
    * order-fixed epilogue, so it must stay summary-sized. */
  val MaxTestGroups = 65536L

  /** One-way ANOVA F across k groups — the parametric k-sample
    * complement of [[welchTTest]]'s two-sample test (did ANY segment's
    * mean move): F = (SSB/(k−1)) / (SSW/(N−k)) from exact per-group
    * moments. All data-sized work is ONE (group) aggregate of exact
    * decimal(38) sums; the epilogue folds the k-row group table in
    * GROUP-KEY ORDER (sort_array + aggregate, mirrored by the oracle's
    * ORDER BY g list fold) so the one double summation Σ S_g²/n_g is
    * order-FIXED cross-engine — a plain double sum would float with
    * partial-aggregation order. Output (1 row): n, n_groups, dof1 =
    * k−1, dof2 = N−k, f_anova (halfUp 6; NULL in-band when k < 2,
    * N ≤ k, or SSW ≤ 0 — a within-degenerate lattice has no F, which
    * is not the same as a significant one).
    *
    * Scale: one corpus hash aggregate + a ≤[[MaxTestGroups]]-row
    * collect (guarded in-plan); the corpus is scanned once, never
    * sorted, never joined.
    */
  def anovaF(
      df: DataFrame, groupCol: String, valueCol: String,
      maxGroups: Long = MaxTestGroups): DataFrame = {
    require(maxGroups > 0, "anovaF: maxGroups must be positive")
    val g = Cleaning.qcol(groupCol).cast("string")
    val v = Cleaning.qcol(valueCol).cast("long")
    val dec = "decimal(38,0)"
    val base = df.filter(g.isNotNull && v.isNotNull)
      .select(g.as("__g"), v.as("__v"))
    val grp = base.groupBy(col("__g")).agg(
      count(lit(1)).as("__n"),
      sum(col("__v").cast(dec)).as("__s"),
      sum((col("__v") * col("__v")).cast(dec)).as("__s2"))
    val one = grp.agg(
      coalesce(sum(col("__n")), lit(0L)).as("n"),
      count(lit(1)).as("n_groups"),
      coalesce(sum(col("__s")), lit(0L).cast(dec)).as("__st"),
      coalesce(sum(col("__s2")), lit(0L).cast(dec)).as("__s2t"),
      sort_array(collect_list(struct(col("__g"), col("__n"), col("__s"))))
        .as("__arr"))
      // the cap guard rides the CONSUMED n_groups column (the
      // consumed-expression rule — a guard on a pruned column is
      // documentation, not enforcement)
      .withColumn("n_groups",
        when(col("n_groups") > maxGroups,
          raise_error(lit(s"anovaF: more than $maxGroups groups — " +
            "band the group column first")).cast("long"))
          .otherwise(col("n_groups")))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    // Σ S_g²/n_g folded in group order: 0.0 + t1 + t2 + ... — the
    // oracle's list_reduce over the same ORDER BY g list is the
    // identical fp sequence (IEEE 0.0 + x = x)
    val fold = aggregate(col("__arr"), lit(0.0), (acc, x) =>
      acc + d(x.getField("__s")) * d(x.getField("__s")) / d(x.getField("__n")))
    val nn = d(col("n")); val k = d(col("n_groups"))
    val ssb = fold - d(col("__st")) * d(col("__st")) / nn
    val ssw = d(col("__s2t")) - fold
    one.select(col("n"), col("n_groups"),
      when(col("n_groups") >= 2L, col("n_groups") - 1L).as("dof1"),
      when(col("n_groups") >= 2L && col("n") > col("n_groups"),
        col("n") - col("n_groups")).as("dof2"),
      when(col("n_groups") >= 2L && col("n") > col("n_groups") && ssw > lit(0.0),
        Rounding.halfUp((ssb / (k - lit(1.0))) / (ssw / (nn - k)), 6))
        .as("f_anova"),
      // eta² = SSB/SST — the effect size behind the significance (an F
      // huge on a trillion rows can still explain 0.1% of variance)
      when(col("n_groups") >= 2L && (ssb + ssw) > lit(0.0),
        Rounding.halfUp(ssb / (ssb + ssw), 6)).as("eta_sq"))
  }

  /** All-pairs Welch contrasts between group means — the drill-down
    * after [[anovaF]] rejects: WHICH segments differ, by how much, and
    * is each gap significant on its own. Per unordered pair
    * (group_a < group_b): exact mean_diff_micro (sign-factored
    * truncating micro division, the diffInDiff pattern) and the SAME
    * Welch t / df double tree as [[welchTTest]], from the same exact
    * decimal moments — so a pair row here and a two-slice welchTTest
    * on the same data agree bitwise.
    *
    * Scale: ONE (group) corpus aggregate; the pair join is a
    * self-join of the ≤`maxGroups`-row group table (guard rides the
    * consumed count column) — k²/2 arithmetic-only rows, no second
    * corpus pass. The default cap is deliberately tighter than
    * [[MaxTestGroups]]: the OUTPUT is quadratic in k, and a contrast
    * table past ~32k rows is a banding bug, not an analysis.
    */
  def pairwiseContrasts(
      df: DataFrame, groupCol: String, valueCol: String,
      maxGroups: Long = 256L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxGroups > 0, "pairwiseContrasts: maxGroups must be positive")
    val g = Cleaning.qcol(groupCol).cast("string")
    val v = Cleaning.qcol(valueCol).cast("long")
    val dec = "decimal(38,0)"
    val wAll = Window.partitionBy()
    val grp = df.filter(g.isNotNull && v.isNotNull)
      .select(g.as("__g"), v.as("__v"))
      .groupBy(col("__g")).agg(
        count(lit(1)).as("__n"),
        sum(col("__v").cast(dec)).as("__s"),
        sum((col("__v") * col("__v")).cast(dec)).as("__q"))
      .withColumn("__n",
        when(count(lit(1)).over(wAll) > maxGroups,
          raise_error(lit(s"pairwiseContrasts: more than $maxGroups groups — " +
            "band the group column first")).cast("long"))
          .otherwise(col("__n")))
    def side(suf: String) = grp.select(
      col("__g").as(s"group_$suf"), col("__n").as(s"n_$suf"),
      col("__s").as(s"__s$suf"), col("__q").as(s"__q$suf"))
    val pairs = side("a").crossJoin(side("b"))
      .filter(col("group_a") < col("group_b"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    def microMean(s: String, n: String) =
      s"(CASE WHEN $s < 0 THEN -((-$s * 1000000) div $n) ELSE ($s * 1000000) div $n END)"
    val meanA = d(col("__sa")) / d(col("n_a"))
    val meanB = d(col("__sb")) / d(col("n_b"))
    val varA = (d(col("n_a")) * d(col("__qa")) - d(col("__sa")) * d(col("__sa"))) /
      (d(col("n_a")) * (d(col("n_a")) - 1.0))
    val varB = (d(col("n_b")) * d(col("__qb")) - d(col("__sb")) * d(col("__sb"))) /
      (d(col("n_b")) * (d(col("n_b")) - 1.0))
    val seA = varA / d(col("n_a"))
    val seB = varB / d(col("n_b"))
    val se2 = seA + seB
    val t = (meanA - meanB) / sqrt(se2)
    val dfW = (se2 * se2) /
      (seA * seA / (d(col("n_a")) - 1.0) + seB * seB / (d(col("n_b")) - 1.0))
    val ok = col("n_a") >= 2L && col("n_b") >= 2L
    pairs.select(
      col("group_a"), col("group_b"), col("n_a"), col("n_b"),
      expr(s"CAST(${microMean("__sa", "n_a")} - ${microMean("__sb", "n_b")} AS BIGINT)")
        .as("mean_diff_micro"),
      when(ok && se2 > 0, Rounding.halfUp(t, 6)).as("t_welch"),
      when(ok && se2 > 0, Rounding.halfUp(dfW, 6)).as("df_welch"))
  }

  /** Brown-Forsythe robust variance-homogeneity F — the gate before
    * trusting [[anovaF]]'s pooled within-variance (and the robust form
    * of Levene: deviations from the group MEDIAN, which survives the
    * heavy tails that break the mean-based version): F on
    * z = |v − median_g|. The group median is the LOWER median
    * (smallest value whose doubled cumulative count reaches n_g) read
    * exactly off the per-group value lattice, so z stays an exact
    * long and the whole statistic is [[anovaF]]'s order-fixed
    * arithmetic on integers.
    *
    * Scale: one (group, value) lattice with group-PARTITIONED windows
    * (the rankNormalize shape — no global window), a k-row median
    * broadcast back, one more corpus pass for z, then anovaF's single
    * aggregate. Output = [[anovaF]]'s row (f_anova IS the BF
    * statistic).
    */
  def brownForsytheF(
      df: DataFrame, groupCol: String, valueCol: String,
      maxGroups: Long = MaxTestGroups): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = Cleaning.qcol(groupCol).cast("string")
    val v = Cleaning.qcol(valueCol).cast("long")
    val base = df.filter(g.isNotNull && v.isNotNull)
      .select(g.as("__g"), v.as("__v"))
    val gv = base.groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wG = Window.partitionBy(col("__g"))
    val med = gv
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__ng", sum(col("__c")).over(wG))
      .filter(lit(2L) * col("__cum") >= col("__ng"))
      .groupBy(col("__g")).agg(min(col("__v")).as("__med"))
    val z = base.join(broadcast(med), Seq("__g"))
      .select(col("__g"), abs(col("__v") - col("__med")).as("__z"))
    anovaF(z, "__g", "__z", maxGroups)
  }

  /** Ordered-group cap for [[jonckheereZ]]'s dense (group × value)
    * grid — k·lattice rows materialize, so k must stay band-sized
    * (JT is a test over ORDERED BANDS: curriculum stages, quality
    * deciles, priority tiers). */
  val MaxJtGroups = 64L

  /** Jonckheere-Terpstra ordered-trend z — "does the metric INCREASE
    * across ordered bands" (curriculum stage, quality decile,
    * priority tier), strictly sharper than [[kruskalWallis]] when the
    * alternative is monotone. J = Σ_{i<j} U_ij over group pairs in
    * GROUP-KEY ORDER (the caller bands into lexically ordered
    * labels); kept exact as 2J = Σ_{(j,v)} c_j(v)·(2·Below_{<j}(v) +
    * Ties_{<j}(v)) over a DENSE (group × value-lattice) grid — two
    * partitioned windows (per-group cumulative below v; per-value
    * prefix over groups) and one aggregate, no pair join. The
    * tie-corrected null variance is the standard three-term form,
    * every ingredient an exact decimal sum; z evaluates one fixed
    * double tree. Output (1 row): n, n_groups, j2 (= 2J, whole even
    * with .5 ties), z_jt (halfUp 6; NULL in-band when k < 2, n < 3,
    * or σ² ≤ 0 — all values tied).
    *
    * Scale: one (group, value) aggregate; the grid is
    * ≤ [[MaxJtGroups]] · [[MaxSpearmanValues]] rows (both guards
    * in-plan) and its windows partition by group / by value — never
    * global over corpus rows.
    */
  def jonckheereZ(
      df: DataFrame, groupCol: String, valueCol: String,
      maxDistinctValues: Long = MaxSpearmanValues,
      maxGroups: Long = MaxJtGroups): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDistinctValues > 0, "jonckheereZ: maxDistinctValues must be positive")
    require(maxGroups > 0, "jonckheereZ: maxGroups must be positive")
    val g = Cleaning.qcol(groupCol).cast("string")
    val v = Cleaning.qcol(valueCol).cast("long")
    val dec = "decimal(38,0)"
    val base = df.filter(g.isNotNull && v.isNotNull)
      .select(g.as("__g"), v.as("__v"))
    val gv = base.groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
    val wAllV = Window.partitionBy()
    val vals = gv.groupBy(col("__v")).agg(sum(col("__c")).as("__t"))
      .withColumn("__t",
        when(count(lit(1)).over(wAllV) > maxDistinctValues,
          raise_error(lit(s"jonckheereZ: more than $maxDistinctValues distinct " +
            "values — band the column first")).cast("long"))
          .otherwise(col("__t")))
    val wAllG = Window.partitionBy()
    val grps = gv.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
      .withColumn("__n",
        when(count(lit(1)).over(wAllG) > maxGroups,
          raise_error(lit(s"jonckheereZ: more than $maxGroups ordered groups — " +
            "band the group column first")).cast("long"))
          .otherwise(col("__n")))
    // dense grid: every (group, lattice value), zero-filled
    val grid = vals.select(col("__v"))
      .crossJoin(broadcast(grps.select(col("__g"))))
      .join(gv, Seq("__g", "__v"), "left")
      .withColumn("__c0", coalesce(col("__c"), lit(0L)))
    val wBelow = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPrevG = Window.partitionBy(col("__v")).orderBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = grid
      .withColumn("__below", coalesce(sum(col("__c0")).over(wBelow), lit(0L)))
      .withColumn("__belowPrev",
        coalesce(sum(col("__below")).over(wPrevG), lit(0L)))
      .withColumn("__tiePrev", coalesce(sum(col("__c0")).over(wPrevG), lit(0L)))
    val j2 = terms.agg(
      coalesce(sum(col("__c0").cast(dec) *
        (lit(2L) * col("__belowPrev") + col("__tiePrev"))), lit(0L).cast(dec))
        .as("__j2"))
    // null moments from exact integer masses
    val moments = grps.agg(
        count(lit(1)).as("n_groups"),
        coalesce(sum(col("__n")), lit(0L)).as("n"),
        coalesce(sum(col("__n").cast(dec) * col("__n")), lit(0L).cast(dec)).as("__sn2"),
        coalesce(sum(col("__n").cast(dec) * (col("__n") - 1L) * (lit(2L) * col("__n") + 5L)),
          lit(0L).cast(dec)).as("__a_g"),
        coalesce(sum(col("__n").cast(dec) * (col("__n") - 1L) * (col("__n") - 2L)),
          lit(0L).cast(dec)).as("__b_g"),
        coalesce(sum(col("__n").cast(dec) * (col("__n") - 1L)), lit(0L).cast(dec)).as("__c_g"))
    val tieMoments = vals.agg(
        coalesce(sum(col("__t").cast(dec) * (col("__t") - 1L) * (lit(2L) * col("__t") + 5L)),
          lit(0L).cast(dec)).as("__a_t"),
        coalesce(sum(col("__t").cast(dec) * (col("__t") - 1L) * (col("__t") - 2L)),
          lit(0L).cast(dec)).as("__b_t"),
        coalesce(sum(col("__t").cast(dec) * (col("__t") - 1L)), lit(0L).cast(dec)).as("__c_t"))
    val one = j2.crossJoin(broadcast(moments)).crossJoin(broadcast(tieMoments))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val nn = d(col("n"))
    // 2μ = Σ_{i<j} n_i n_j = (N² − Σ n_i²)/2 — exact decimal (the
    // numerator is always even, so integer div loses nothing)
    val mu2 = expr("(CAST(n AS DECIMAL(38,0)) * n - __sn2) div 2")
    val aT = nn * (nn - 1.0) * (lit(2.0) * nn + 5.0) - d(col("__a_g")) - d(col("__a_t"))
    val bT = d(col("__b_g")) * d(col("__b_t")) /
      (lit(36.0) * nn * (nn - 1.0) * (nn - 2.0))
    val cT = d(col("__c_g")) * d(col("__c_t")) / (lit(8.0) * nn * (nn - 1.0))
    val sigma2 = aT / lit(72.0) + bT + cT
    val z = (d(col("__j2")) - d(mu2)) / (lit(2.0) * sqrt(sigma2))
    one.select(col("n"), col("n_groups"),
      col("__j2").cast("long").as("j2"),
      when(col("n_groups") >= 2L && col("n") >= 3L && sigma2 > lit(0.0),
        Rounding.halfUp(z, 6)).as("z_jt"))
  }

  /** Kruskal-Wallis H across k groups — the rank-based k-sample
    * complement of [[mannWhitneyZ]] (did ANY segment's distribution
    * shift, no normality assumed): H = 3/(N(N+1)) · Σ D_g²/n_g −
    * 3(N+1) over DOUBLED rank sums D_g (the exact-integer midrank
    * lattice of [[spearmanCorr]]), tie-corrected by C = 1 −
    * Σ(t³−t)/(N³−N). Ranks ride the ≤[[MaxSpearmanValues]] tie-group
    * lattice (guarded in-plan, broadcast back to the (group, value)
    * aggregate), D_g and the tie mass are exact decimal(38), and the
    * one cross-group double summation folds the k-row table in
    * GROUP-KEY ORDER exactly like [[anovaF]]. Output (1 row): n,
    * n_groups, dof = k−1, h_kw (halfUp 6; NULL in-band when k < 2 or
    * every value ties — C = 0 leaves H undefined). Compare h_kw to the
    * chi-square(k−1) tail exactly as [[chiSquareIndependence]]'s
    * chi2_micro.
    *
    * Scale: one (group, value) aggregate + one value-lattice window +
    * a ≤[[MaxTestGroups]]-row collect; the corpus is scanned once.
    */
  def kruskalWallis(
      df: DataFrame, groupCol: String, valueCol: String,
      maxDistinctValues: Long = MaxSpearmanValues,
      maxGroups: Long = MaxTestGroups): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDistinctValues > 0, "kruskalWallis: maxDistinctValues must be positive")
    require(maxGroups > 0, "kruskalWallis: maxGroups must be positive")
    val g = Cleaning.qcol(groupCol).cast("string")
    val v = Cleaning.qcol(valueCol).cast("long")
    val dec = "decimal(38,0)"
    val base = df.filter(g.isNotNull && v.isNotNull)
      .select(g.as("__g"), v.as("__v"))
    val gv = base.groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
    val wCum = Window.orderBy(col("__v")).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    val lat = gv.groupBy(col("__v")).agg(sum(col("__c")).as("__t"))
      .withColumn("__guard",
        when(count(lit(1)).over(wAll) > maxDistinctValues,
          raise_error(lit(s"kruskalWallis: more than $maxDistinctValues distinct " +
            "values — band the column first")).cast("long"))
          .otherwise(col("__t")))
      .withColumn("__cum", sum(col("__guard")).over(wCum))
      // doubled average rank of the tie group: 2*cum - t + 1
      .select(col("__v"), col("__t"), (lit(2L) * col("__cum") - col("__t") + 1L).as("__r2"))
    val grp = gv.join(broadcast(lat.select(col("__v"), col("__r2"))), Seq("__v"))
      .groupBy(col("__g")).agg(
        sum(col("__c")).as("__n"),
        sum(col("__c").cast(dec) * col("__r2")).as("__d"))
    val ties = lat.agg(
      coalesce(sum(col("__t")), lit(0L)).as("n"),
      coalesce(sum(col("__t").cast(dec) * col("__t") * col("__t") - col("__t")),
        lit(0L).cast(dec)).as("__tie"))
    val one = grp.agg(
      count(lit(1)).as("n_groups"),
      sort_array(collect_list(struct(col("__g"), col("__n"), col("__d"))))
        .as("__arr"))
      .withColumn("n_groups",
        when(col("n_groups") > maxGroups,
          raise_error(lit(s"kruskalWallis: more than $maxGroups groups — " +
            "band the group column first")).cast("long"))
          .otherwise(col("n_groups")))
      .crossJoin(broadcast(ties))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val fold = aggregate(col("__arr"), lit(0.0), (acc, x) =>
      acc + d(x.getField("__d")) * d(x.getField("__d")) / d(x.getField("__n")))
    val nn = d(col("n"))
    val h = lit(3.0) / (nn * (nn + lit(1.0))) * fold - lit(3.0) * (nn + lit(1.0))
    val corr = lit(1.0) - d(col("__tie")) / (nn * nn * nn - nn)
    one.select(col("n"), col("n_groups"),
      when(col("n_groups") >= 2L, col("n_groups") - 1L).as("dof"),
      when(col("n_groups") >= 2L && col("n") >= 2L && corr > lit(0.0),
        Rounding.halfUp(h / corr, 6)).as("h_kw"),
      // epsilon² = H_corr/(n−1) — the rank effect size (share of rank
      // variance the grouping explains), same NULL lattice as h_kw
      when(col("n_groups") >= 2L && col("n") >= 2L && corr > lit(0.0),
        Rounding.halfUp(h / corr / (nn - lit(1.0)), 6)).as("epsilon_sq"))
  }

  /** The KMV estimator chain over a frame carrying sketch arrays `sa`,
    * `sb` (ascending distinct hashes, ≤ k each) — shared by
    * [[kmvOverlap]] and [[kmvOverlapMatrix]] so pair and matrix forms
    * can never drift. Adds n_{a,b}_kept, exact, est_distinct_{a,b},
    * est_union, est_intersect, jaccard_micro. */
  private def kmvEstimates(withSketches: DataFrame, k: Int): DataFrame = {
    val numer = (k - 1).toLong * graft.functions.PortableHash.PolyMod
    withSketches
      .withColumn("n_a_kept", size(col("sa")).cast("long"))
      .withColumn("n_b_kept", size(col("sb")).cast("long"))
      .withColumn("__mu", array_sort(array_union(col("sa"), col("sb"))))
      .withColumn("__mg", slice(col("__mu"), 1, k))
      .withColumn("exact", col("n_a_kept") < k && col("n_b_kept") < k)
      // candidates for the intersection count: the FULL union when
      // exact (a k-slice would undercount unions past k), the k
      // smallest union hashes otherwise (the Beyer et al. rule)
      .withColumn("__j",
        size(filter(when(col("exact"), col("__mu")).otherwise(col("__mg")),
          v => array_contains(col("sa"), v) && array_contains(col("sb"), v)))
          .cast("long"))
      .withColumn("est_distinct_a",
        when(col("n_a_kept") < k, col("n_a_kept"))
          .otherwise(expr(s"${numer}L div element_at(sa, $k)")))
      .withColumn("est_distinct_b",
        when(col("n_b_kept") < k, col("n_b_kept"))
          .otherwise(expr(s"${numer}L div element_at(sb, $k)")))
      .withColumn("est_union",
        when(col("exact"), size(col("__mu")).cast("long"))
          .otherwise(expr(s"${numer}L div element_at(__mg, $k)")))
      .withColumn("est_intersect",
        when(col("exact"), col("__j"))
          .otherwise(expr(s"(__j * est_union) div $k")))
      .withColumn("jaccard_micro",
        when(col("est_union") > 0L, expr("(est_intersect * 1000000L) div est_union")))
  }

  /** KMV corpus-overlap estimate — "how much of crawl B is already in
    * crawl A" WITHOUT joining the corpora: each side reduces to its k
    * smallest distinct key-hash values
    * ([[graft.functions.Aggregates.kmvSketch]] — shuffle carries at
    * most k longs per partition), and distinct-count / union /
    * intersection / Jaccard estimates fall out of the two k-sized
    * arrays (Beyer et al., SIGMOD'07): distinct ~ (k−1)·M / τ_k with
    * τ_k the k-th smallest hash over the space [0, M); intersection ~
    * (j/k)·U where j counts the k smallest UNION hashes present in
    * both sketches. When BOTH sides hold fewer than k distinct hashes
    * the sketches ARE the complete hash sets and every output is
    * exact (`exact = true`) — the property the spec pins.
    *
    * The key hashes through the scrambled portable kernel
    * ([[graft.functions.PortableHash.kmvHash31]] — 31-base polynomial
    * + affine bijection, which spreads SHORT keys across the full
    * range; the estimator reads order statistics as uniform) so a
    * DuckDB oracle replays it; its 31-bit range means hash collisions
    * start biasing the estimate low near ~2^16 distinct keys
    * (birthday bound) — at production scale swap in `xxhash64` and a
    * 2^63 space (same estimator, wider M; the oracle config keeps the
    * portable kernel, the stub-vs-real codec pattern).
    *
    * Scale: ONE aggregate pass per side (k-bounded map-side state), a
    * 1-row × 1-row cross join, and array math over ≤ 2k elements —
    * the corpora never co-shuffle. Estimator error is the standard
    * KMV bound (~1/√k relative for distinct counts; k = 256 → ~6%).
    */
  def kmvOverlap(
      a: DataFrame, b: DataFrame, keyCol: String, k: Int = 256): DataFrame = {
    require(k >= 16 && k <= 65536, s"kmvOverlap: k must be in [16, 65536], got $k")
    def sketch(df: DataFrame, name: String): DataFrame = {
      val key = Cleaning.qcol(keyCol)
      df.filter(key.isNotNull)
        .select(graft.functions.PortableHash.kmvHash31(key.cast("string")).as("__h"))
        .agg(graft.functions.Aggregates.kmvSketch(col("__h"), k).as(name))
    }
    kmvEstimates(sketch(a, "sa").crossJoin(sketch(b, "sb")), k)
      .select(lit(k.toLong).as("k"), col("n_a_kept"), col("n_b_kept"),
        col("est_distinct_a"), col("est_distinct_b"), col("est_union"),
        col("est_intersect"), col("jaccard_micro"), col("exact"))
  }

  /** Pairwise KMV overlap matrix across slices of ONE corpus — "which
    * of my sources are feeding me the same content": one k-bounded
    * sketch per slice, then [[kmvOverlap]]'s estimator on every
    * unordered slice pair. The slice-level complement of the dedup
    * family's doc-level overlap matrix: a high-Jaccard source pair is
    * a mirror/re-crawl candidate BEFORE any pairwise doc join runs.
    *
    * Scale: ONE corpus aggregate onto the slice key (k-bounded
    * map-side state per slice — the shuffle carries ≤ k longs per
    * (slice, partition)), then a |slices|²/2 self-join of k-sized
    * arrays. Slices are a DESIGN key (sources, languages, waves —
    * config-sized, the pairwise-JS convention); the pair table is
    * slice-bounded, never data-bounded.
    */
  def kmvOverlapMatrix(
      df: DataFrame, sliceCol: String, keyCol: String, k: Int = 256): DataFrame = {
    require(k >= 16 && k <= 65536, s"kmvOverlapMatrix: k must be in [16, 65536], got $k")
    val slice = Cleaning.qcol(sliceCol)
    val key = Cleaning.qcol(keyCol)
    val sk = df.filter(slice.isNotNull && key.isNotNull)
      .select(slice.cast("string").as("s"),
        graft.functions.PortableHash.kmvHash31(key.cast("string")).as("__h"))
      .groupBy(col("s"))
      .agg(graft.functions.Aggregates.kmvSketch(col("__h"), k).as("sk"))
      .localCheckpoint(eager = false) // |slices| rows, read by both join sides
    val pairs = sk.select(col("s").as("slice_a"), col("sk").as("sa"))
      .join(sk.select(col("s").as("slice_b"), col("sk").as("sb")),
        col("slice_a") < col("slice_b"))
    kmvEstimates(pairs, k)
      .select(col("slice_a"), col("slice_b"), col("n_a_kept"), col("n_b_kept"),
        col("est_distinct_a"), col("est_distinct_b"), col("est_union"),
        col("est_intersect"), col("jaccard_micro"), col("exact"))
  }
}
