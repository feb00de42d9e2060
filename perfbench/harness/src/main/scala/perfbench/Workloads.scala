package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.config.MappingConfig
import graft.io.{Sinks, Sources}
import graft.ops.{Cleaning, Crosstab, MultiDim}
import graft.pipeline.Transform

/** One operation of a closed loop with one client: the next op starts
  * when this one ends. */
final case class Op(name: String, family: String)

trait Workload {
  /** Opens the inputs through the engine's readers; timed as set-up. */
  def open(spark: SparkSession): Unit
  def ops: Seq[Op]
  /** Runs `op` to its full output. On the check pass the output is kept
    * as parquet under `checkDir`, which perfbench/run.py verifies. */
  def run(spark: SparkSession, tr: Tracer, op: Op, pass: Int, checkPass: Boolean): Unit
  /** Facts about the run, written to the result. */
  def info: Map[String, Any] = Map.empty
}

/** The reference's own flow on a replicated survey wave: read, load the
  * codebook and mapping, Transform, the crosstab and multi-dim tables of
  * E2eFixtureSpec, every table written with the parquet sink, release.
  * Each pass writes its own output directory, so every pass is checked. */
final class SurveyWave(wave: String, survey: String, checkDir: String) extends Workload {
  private var cacheMb = 0.0

  def open(spark: SparkSession): Unit = {
    Sources.readTable(spark, wave)
    Sources.readCodebook(spark, s"$survey/codebook.csv")
    MappingConfig.load(s"$survey/mapping_config.json")
  }

  val ops: Seq[Op] = Seq(Op("survey_wave", "survey"))

  def run(spark: SparkSession, tr: Tracer, op: Op, pass: Int, checkPass: Boolean): Unit = {
    val raw = tr.span("io.open")(Sources.readTable(spark, wave))
    val codebook = tr.span("io.open")(Sources.readCodebook(spark, s"$survey/codebook.csv"))
    val cfg = tr.span("io.open")(MappingConfig.load(s"$survey/mapping_config.json"))
    val (tables, release) = tr.span("pipeline.build")(Transform.runReleasable(raw, cfg, codebook))
    val extra = tr.span("query.build") {
      val recoded = Cleaning.applyCodebook(raw, codebook)
      Seq("total", "row", "col").map(m => s"crosstab_$m" ->
        Crosstab.crosstab(recoded, "region", "gender", Some("weight"), m, includeTotals = true, 1)) ++
        Seq("total", "region").map(b => s"multi_tab_$b" ->
          MultiDim.multiDimTabulation(recoded, Seq("region", "gender", "sec"), Some("weight"), b, 1))
    }
    tr.span("io.sink")((tables.toSeq ++ extra).sortBy(_._1).foreach { case (name, df) =>
      tr.span(s"table.$name")(Sinks.writeParquet(Map(name -> df), s"$checkDir/pass-$pass"))
    })
    if (tr.enabled) cacheMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    release()
  }

  override def info: Map[String, Any] = Map("pipeline_cache_mb" -> cacheMb)
}

/** A fixed list of `SparkEntry` keys at one data directory, run in sorted
  * order on every pass, each to its full output through a `noop` write.
  * The noop sink leaves nothing to digest, so outputs are checked once per
  * run, on the check pass; a wrong output there fails the key on every
  * pass. The recorded digests hold under every seeded row order. */
final class KeyMix(dir: String, keys: Seq[String], checkDir: String) extends Workload {
  private val fn = graft.QueryFamilies.all.flatMap(_._2).toMap
  private val familyOf = graft.QueryFamilies.all.flatMap { case (f, m) => m.keys.map(_ -> f) }.toMap

  require(keys.nonEmpty && keys.forall(fn.contains),
    s"unknown keys: ${keys.filterNot(fn.contains).mkString(",")}")

  def open(spark: SparkSession): Unit =
    new java.io.File(dir).list().sorted.filter(_.endsWith(".parquet"))
      .foreach(f => Sources.table(spark, dir, f.stripSuffix(".parquet")))

  val ops: Seq[Op] = keys.sorted.map(k => Op(k, familyOf(k)))

  def run(spark: SparkSession, tr: Tracer, op: Op, pass: Int, checkPass: Boolean): Unit = {
    val df: DataFrame = tr.span("query.build")(fn(op.name)(spark, dir))
    tr.span("query.action")(
      if (checkPass) df.write.mode("overwrite").parquet(s"$checkDir/${op.name}")
      else df.write.format("noop").mode("overwrite").save())
  }
}
