package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload as a closed loop with one client and
  * writes every raw measurement to a JSON file. perfbench/run.py makes
  * the inputs, starts this JVM, checks the outputs it leaves and turns
  * the file into metrics.
  *
  * Args: --seconds S --trace 0|1 --work DIR --result FILE, then either
  *   --workload survey_wave --wave CSV --survey DIR, or
  *   --workload keys --data DIR --keys k1,k2,...
  * `--mode families` prints the `Queries*` families and their keys.
  */
object Main {
  private val MinTimed = 2

  final case class OpRec(pass: Int, name: String, family: String, seconds: Double, cpuS: Double,
      error: String)
  final case class PassRec(pass: Int, kind: String, traced: Boolean, seconds: Double, cpuS: Double,
      heapPeakMb: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"expected --name value pairs, got ${other.mkString(" ")}")
    }.toMap
    if (opt.get("mode").contains("families")) {
      println(Json.render(graft.QueryFamilies.all.map { case (f, m) => f -> m.keys.toSeq.sorted }.toMap))
      return
    }
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val workload: Workload = opt("workload") match {
      case "survey_wave" => new SurveyWave(opt("wave"), opt("survey"), s"$work/check")
      case "keys" => new KeyMix(opt("data"), opt("keys").split(",").toSeq, s"$work/check")
      case other => sys.error(s"unknown workload $other")
    }
    // Set-up runs from JVM start to the start of the first timed pass:
    // Spark's start, opening the inputs and the cold check pass.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = {
      val s = SparkSession.builder()
        .master("local[4]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      graft.functions.GraftFunctions.register(s)
      s
    }
    workload.open(spark)
    val openS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tr = new Tracer(spark)
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val opRecs = ArrayBuffer.empty[OpRec]
    val passRecs = ArrayBuffer.empty[PassRec]

    /** One pass over the ops. Its time and CPU are the sums over the ops'
      * timed spans; the clean-up between ops is outside them. */
    def pass(kind: String, traced: Boolean): Unit = {
      val p = passRecs.size
      tr.beginPass(p, traced)
      System.gc()
      heapPools.foreach(_.resetPeakUsage())
      var secs, cpu = 0.0
      workload.ops.foreach { op =>
        tr.beginOp(op.name)
        val (t0, c0) = (System.nanoTime(), os.getProcessCpuTime)
        val err = try { tr.span("op")(workload.run(spark, tr, op, p, kind == "check")); "" }
        catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
        val rec = OpRec(p, op.name, op.family, (System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9, err)
        // between ops, outside the timed span, as Bench.timeOnce does
        tr.endOp()
        spark.catalog.clearCache()
        System.gc()
        secs += rec.seconds
        cpu += rec.cpuS
        opRecs += rec
      }
      passRecs += PassRec(p, kind, traced, secs, cpu, heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    }

    // The check pass is the cold one and warms the JVM up; it ends
    // set-up and is no timed pass. The first timed pass can still run
    // slower while the JIT catches up; a warm-up pass more did not make
    // the figures steadier between runs and would cost a pass per run,
    // which the run budget does not leave. The fixed schedule keeps every
    // run the same length.
    pass("check", traced = false)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    // timed passes; a traced run interleaves untraced and traced passes
    // in the order U T T U U T ..., so that passes still speeding up do
    // not bias the difference of their medians, the tracing overhead
    val t0 = System.nanoTime()
    var n = 0
    while (n < (if (traced) 2 * MinTimed else MinTimed) || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass("timed", traced = traced && (n % 4 == 1 || n % 4 == 2))
      n += 1
    }
    tr.close()

    Json.write(opt("result"), Map(
      "setup_s" -> setupS,
      "open_s" -> openS,
      "passes" -> passRecs.toSeq.map(r => Map("pass" -> r.pass, "kind" -> r.kind, "traced" -> r.traced,
        "seconds" -> r.seconds, "cpu_s" -> r.cpuS, "heap_peak_mb" -> r.heapPeakMb)),
      "ops" -> opRecs.toSeq.map(r => Map("pass" -> r.pass, "name" -> r.name, "family" -> r.family,
        "seconds" -> r.seconds, "cpu_s" -> r.cpuS, "error" -> r.error)),
      "spans" -> tr.spans.toSeq.map(s => Seq(s.id, s.parent, s.name, s.pass, s.op, s.startMs, s.endMs)),
      "jobs" -> tr.jobs.toSeq.map(j => Seq(j.span, j.pass, j.callSite, j.startMs, j.endMs)),
      "stages" -> tr.stages.toSeq.map(s => Seq(s.span, s.shuffleMap, s.tasks, s.runMs, s.cpuNs, s.gcMs,
        s.shuffleReadB, s.shuffleWriteB, s.spillB, s.outputB)),
      "phases" -> tr.phases.toSeq.map(p => Seq(p.pass, p.analysisMs, p.optimizationMs, p.planningMs)),
      "info" -> workload.info))
    spark.stop()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def render(v: Any): String = v match {
    case null | None => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
}
