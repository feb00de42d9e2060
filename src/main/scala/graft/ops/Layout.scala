package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators for multi-dimensional scan pruning.
  *
  * A 100 TB table is pruned by FILE-LEVEL min/max statistics: a scan
  * with predicates on two keys skips a file only when the file's
  * [min, max] rectangle on BOTH keys misses the predicate. Range-
  * partitioning by one key makes that key's rectangles tight and the
  * other's full-width; interleaving the keys' bits (Morton / Z-order)
  * before range-partitioning makes BOTH dimensions' rectangles shrink
  * like sqrt(files) — the standard lakehouse layout trick, built here
  * from plain expressions + `repartitionByRange` (no table-format
  * dependency).
  */
object Layout {

  /** Morton (Z-order) key of two non-negative integer columns: the
    * low `bits` bits of `x` and `y` interleaved (x even positions, y
    * odd) — closed form Σᵢ (bitᵢ(x) + 2·bitᵢ(y))·4ⁱ, all exact-in-
    * double integer arithmetic (≤ 4^bits ≤ 2³², far inside 2⁵³), so
    * any engine replays it bit-identically. Inputs wrap into the
    * `bits`-bit domain via `pmod` (a key outside the domain bands like
    * a hash — deterministic, documented, never an error at 3 a.m. in
    * an ingest job); null in → null out.
    *
    * Row-local and codegen'd: the key costs one narrow projection.
    */
  def mortonKey(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1,16], got $bits")
    val xb = pmod(x.cast("long"), lit(1L << bits))
    val yb = pmod(y.cast("long"), lit(1L << bits))
    // STATIC per-bit terms (a Scala-side loop over literal 2^i / 4^i
    // longs), not a runtime fold over sequence(): the higher-order
    // aggregate evaluates interpreted with per-row pow() calls — a
    // measured ~10× constant on a 16-bit key — while this form is one
    // flat codegen'd arithmetic expression. Values are identical: the
    // divisions are the same exact-in-double quotients.
    (0 until bits).map { i =>
      val p2 = lit(1L << i)
      val p4 = lit(1L << (2 * i))
      (pmod(floor(xb / p2).cast("long"), lit(2L)) +
        pmod(floor(yb / p2).cast("long"), lit(2L)) * 2L) * p4
    }.reduce(_ + _)
  }

  /** Z-order layout audit — the pruning-quality evidence: rows are
    * assigned to `2^bucketBits` Z-buckets (the top bucketBits bits of
    * the Morton key — exactly the ranges a `repartitionByRange` write
    * would cut), and each bucket reports its row count and its min/max
    * rectangle on both source keys. Tight rectangles (extent ~
    * keyspace / 2^(bucketBits/2) per dimension) are what make
    * two-sided predicates skip files; a hash or single-key layout
    * shows full-width rectangles on the other key. One narrow
    * projection + one `2^bucketBits`-group aggregate — summary-sized
    * output, nothing sorts.
    */
  def zOrderLayoutAudit(
      df: DataFrame, xCol: String, yCol: String,
      bits: Int = 16, bucketBits: Int = 4): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= 2 * bits,
      s"bucketBits must be in [1, ${2 * bits}], got $bucketBits")
    val x = Cleaning.qcol(xCol)
    val y = Cleaning.qcol(yCol)
    val z = mortonKey(x, y, bits)
    val shift = pow(lit(2.0), lit(2 * bits - bucketBits)).cast("long")
    df.select(x.as("__x"), y.as("__y"),
        floor(z / shift).cast("long").as("zbucket"))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("__x")).as(s"min_$xCol"), max(col("__x")).as(s"max_$xCol"),
        min(col("__y")).as(s"min_$yCol"), max(col("__y")).as(s"max_$yCol"))
  }

  /** Small-file compaction plan — the other half of layout hygiene at
    * 100 TB: streaming/CDC ingest leaves millions of KB-sized files
    * whose per-file open/footer cost dominates scans, and the fix is a
    * periodic compaction pass that rewrites each hive partition's
    * files into ~`targetBytes` outputs. This planner assigns every
    * file a `group_id` (files sharing a group are rewritten together)
    * by CONTIGUOUS start-offset binning: within a partition directory,
    * files are laid end-to-end in path order and a file joins the bin
    * its first byte falls in (`group_id = start_offset div target`).
    * Contiguity keeps any path-embedded ordering (ingest time, shard)
    * physically clustered after the rewrite, and the rule is a pure
    * running-sum expression — deterministic, engine-replayable, and
    * incremental-friendly (appending files never reshuffles earlier
    * groups). Bins land within one file of `targetBytes`; a single
    * file larger than the target keeps one group to itself (files are
    * atomic — a planner never splits a parquet file).
    *
    * Scale: the manifest is FILE-count sized (≈ bytes/targetBytes
    * rows, not data rows) and the running sum is a window PARTITIONED
    * BY the directory — bounded by files-per-partition-dir, never a
    * global sort. The plan is metadata-only; the rewrite it drives is
    * one `group_id`-partitioned read-write pass.
    */
  def compactionPlan(
      manifest: DataFrame, dirCol: String, pathCol: String,
      bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("dir")).orderBy(col("path"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    manifest
      .select(Cleaning.qcol(dirCol).cast("string").as("dir"),
        Cleaning.qcol(pathCol).cast("string").as("path"),
        Cleaning.qcol(bytesCol).cast("long").as("bytes"))
      .withColumn("__start", sum(col("bytes")).over(w) - col("bytes"))
      // long `div`, never floor of a double quotient — exact at any
      // byte magnitude (the DuckDB mirror is `//`)
      .withColumn("group_id", expr(s"__start div ${targetBytes}"))
      .drop("__start")
  }

  /** Per-group rollup of [[compactionPlan]] — the work manifest a
    * compaction job executes and the evidence row a lakehouse table
    * keeps (files merged, bytes moved per output). `n_files` ≫ 1 at
    * ~`targetBytes` per group is the healthy signature; `n_files` = 1
    * groups are already-compact files the job skips.
    */
  def compactionSummary(
      manifest: DataFrame, dirCol: String, pathCol: String,
      bytesCol: String, targetBytes: Long): DataFrame =
    compactionPlan(manifest, dirCol, pathCol, bytesCol, targetBytes)
      .groupBy(col("dir"), col("group_id"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes"),
        min(col("path")).as("first_path"), max(col("path")).as("last_path"))
}
