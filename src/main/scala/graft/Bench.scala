package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // warmup: JVM/codegen/parquet-footer costs land here, not on the
    // first measured query. A tiny crosstab + window exercise the
    // Janino/codegen paths (hash agg, pivot, broadcast, window exec)
    // that otherwise bill ~2s to whichever query runs them first.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    try {
      import org.apache.spark.sql.functions._
      val warm = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      graft.ops.Crosstab.crosstab(warm, "l_returnflag", "l_linestatus",
        Some("l_quantity"), "col", includeTotals = true, 1).count()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy("l_quantity")
      warm.withColumn("rn", row_number().over(w)).count()
    } catch { case _: Throwable => () }
    // Cold/warm split (round-8 verdict #1): each query runs TWICE in
    // this JVM. The first sample carries that query's one-shot costs —
    // janino codegen for its plan shape, typedLit model tables, the
    // fit-once caches — which land anywhere in a wide band and have
    // produced false regression scares three rounds running (ivfpq r7,
    // clffilter r8, pq_search r8-final). The second sample is the
    // steady-state plan cost a 1000-executor production run would pay
    // per partition wave, so WARM is the number regression judgments
    // key off; COLD is kept alongside as the one-shot model/codegen
    // cost. `queries` (and the summary total) report warm; the full
    // BENCH_FULL.jsonl line carries both maps.
    // A sample whose query throws is None: the key is listed under
    // "failed" and reported with no timing, never as a fast one.
    def timeOnce(name: String, fn: (SparkSession, String) => DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // between samples (outside the timed span): drop any stray cache
      // entries and nudge the ContextCleaner (localCheckpoint blocks are
      // GC-released) so each sample is timed against its PLAN, not the
      // accumulated cache pressure of everything that ran before it —
      // repeated same-JVM runs must measure like fresh JVMs.
      spark.catalog.clearCache()
      System.gc()
      if (ok) Some(dt) else None
    }
    // local probe filter (the Verify third-arg convention): a comma
    // list of query names restricts the run — the driver never sets
    // it, so the per-round contract (full suite) is untouched
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val both = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val cold = timeOnce(name, fn)
      val warm = timeOnce(name, fn)
      (name, cold, warm)
    }
    val (timed, failedRuns) = both.partition { case (_, c, w) => c.isDefined && w.isDefined }
    val results = timed.map { case (n, _, w) => n -> w.get }
    val colds = timed.map { case (n, c, _) => n -> c.get }
    val failed = failedRuns.map { case (n, _, _) => "\"" + n + "\"" }.mkString("[", ",", "]")
    // ONE JSON line, but field-ordered for the harness' stdout TAIL
    // window (last ~2000 chars survive): per-query map FIRST, summary
    // fields LAST, times at millisecond precision (sub-ms digits are
    // noise and cost tail space). The complete full-precision line is
    // also appended to BENCH_FULL.jsonl so no per-query number is ever
    // lost to truncation — every figure a verdict cites must trace to
    // a committed artifact.
    def r3(d: Double): Double = math.rint(d * 1000) / 1000
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val wall = (System.nanoTime() - wall0) / 1e9
    // "timing":"warm" marks the semantics change (round 9): `queries`
    // and `value` are the per-query WARM (second-in-JVM) samples; the
    // cold samples ride only in the full-precision BENCH_FULL line.
    // `failed` lists the keys that threw in either sample; they are in
    // neither map, the total nor n_queries.
    val summary = s""""metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""timing":"warm","n_queries":${results.length},"wall":${r3(wall)},"sf":"$sfDir",""" +
      s""""failed":$failed"""
    println(s"""{"queries":$qs,$summary}""")
    // a SECOND compact line with no queries map: the harness keeps only
    // the stdout tail, and at ~300 keys the full line overflows it
    // (round-12 BENCH had "parsed": null) — this one always fits, so
    // the driver's parse is unconditional; per-query numbers live in
    // the first line and BENCH_FULL.jsonl
    println(s"""{$summary}""")
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullCold = colds.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL.jsonl"),
      s"""{"queries":$fullQs,"cold":$fullCold,$summary}""" + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case _: Throwable => () } // read-only cwd must not fail the bench
    spark.stop()
  }
}
