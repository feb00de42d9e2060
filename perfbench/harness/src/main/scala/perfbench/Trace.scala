package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark JVM.
  *
  * Spans wrap the benchmark's calls into each engine layer. While a span
  * is open its id sits in a Spark local property, so every job, stage and
  * task the call starts carries it; the listeners below record those and
  * the Catalyst phase times, and everything is written out when the run
  * ends. When tracing is off, `span` only runs its body and no listener
  * is registered, so untraced passes pay nothing.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val phases = ArrayBuffer.empty[Phases]

  private var on = false
  private var nextId = 1
  private var stack: List[Int] = Nil
  // the listeners stamp events with it; `endOp` drains the bus after
  // every op, so no event of one pass arrives in the next
  @volatile private var pass = -1
  private var op = ""
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same axis as the listener's job times. */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def enabled: Boolean = on

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val prev = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, id.toString)
      stack = id :: stack
      val start = nowMs()
      try body
      finally {
        val end = nowMs()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, prev)
        spans.synchronized(spans += Span(id, parent, name, pass, op, start, end))
      }
    }

  def beginPass(p: Int, traced: Boolean): Unit = {
    pass = p
    if (traced && !on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      on = true
    } else if (!traced && on) {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
      on = false
    }
  }

  def beginOp(name: String): Unit = op = name

  /** Outside the timed span: wait until the listeners have seen every
    * event of the op. */
  def endOp(): Unit = if (on) org.apache.spark.BenchBus.drain(spark.sparkContext)

  def close(): Unit = beginPass(pass, traced = false)

  private val sparkListener = new SparkListener {
    private val stageSpan = scala.collection.concurrent.TrieMap.empty[Int, Int]

    private def spanOf(props: java.util.Properties): Int =
      Option(props).flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toInt).getOrElse(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, span))
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs.synchronized(jobs += Job(e.jobId, span, pass, site, e.time))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.find(_.id == e.jobId).foreach(_.endMs = e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val span = stageSpan.getOrElse(s.stageId, 0)
      val rec =
        if (m == null) Stage(span, org.apache.spark.BenchBus.isShuffleMap(s), s.numTasks, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
        else Stage(span, org.apache.spark.BenchBus.isShuffleMap(s), s.numTasks,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.outputMetrics.bytesWritten)
      stages.synchronized(stages += rec)
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(name: String): Long = ph.get(name).map(_.durationMs).getOrElse(0L)
      phases.synchronized(phases += Phases(pass, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, pass: Int, op: String, startMs: Double, endMs: Double)
  final case class Job(id: Int, span: Int, pass: Int, callSite: String, startMs: Long, var endMs: Long = -1L)
  final case class Stage(span: Int, shuffleMap: Boolean, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleReadB: Long, shuffleWriteB: Long, spillB: Long, outputB: Long)
  final case class Phases(pass: Int, analysisMs: Long, optimizationMs: Long, planningMs: Long)
}
