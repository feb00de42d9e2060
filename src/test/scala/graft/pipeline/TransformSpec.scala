package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.config._

class TransformSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("full transform produces the reference's table set") {
    val df = Seq(
      ("r1", "BrandA", "1", "0", "9", "4"),
      ("r2", "BrandB", "0", "1", "10", "5"),
      ("r3", "BrandA", "1", "1", "3", "2")
    ).toDF("rid", "tom_brand", "ua_brandx", "ever_brandx", "nps_q", "csat_q")
    val cfg = MappingConfig(
      respondent_id = Some("rid"),
      awareness = AwarenessCfg(Some("tom_brand"), Seq("ua_brandx"), Nil),
      usage = UsageCfg(Seq("ever_brandx"), Nil, Nil),
      satisfaction = SatisfactionCfg(Some("csat_q")),
      nps = NpsCfg(Some("nps_q")))
    val out = Transform.run(df, cfg)
    assert(out.keySet == Set("awareness_tom", "awareness_unaided", "usage_ever_used",
      "satisfaction_summary", "nps_summary", "brand_dictionary", "tabulation"))
    val tom = out("awareness_tom").as[(String, Long)].collect().toMap
    assert(tom == Map("BrandA" -> 2L, "BrandB" -> 1L))
    val unaided = out("awareness_unaided").as[(String, Long)].collect().toMap
    assert(unaided == Map("ua_brandx" -> 2L))
    val bd = out("brand_dictionary").as[(String, String)].collect().toSet
    assert(bd.contains(("TOM", "BrandA")))
    // reference strips prefixes SEQUENTIALLY: ua_brandx → brandx → x
    // (both ^ua[_-]? and ^brand[_-]? are in COMMON_PREFIXES, app.py:237-240)
    assert(bd.contains(("Unaided", "x")))
    assert(out("tabulation").count() > 0)
  }

  test("codebook recode applies before the builders") {
    val df = Seq(("1", "x"), ("2", "y")).toDF("tom", "other")
    val cfg = MappingConfig(awareness = AwarenessCfg(tom = Some("tom")))
    val out = Transform.run(df, cfg,
      codebook = Map("tom" -> Map("1" -> "BrandOne")))
    val tom = out("awareness_tom").as[(String, Long)].collect().toMap
    assert(tom == Map("BrandOne" -> 1L, "2" -> 1L))
  }

  test("multi-wave tracking: per-wave transform unioned into Trend deltas") {
    import org.apache.spark.sql.functions._
    // the end-to-end tracking flow the reference cannot do: run the same
    // mapping config on two waves, stack the awareness tables with a wave
    // id, and trend brand counts wave-over-wave
    val cfg = MappingConfig(awareness = AwarenessCfg(tom = Some("tom")))
    val wave1 = Seq("A", "A", "B").toDF("tom")
    val wave2 = Seq("A", "B", "B", "B").toDF("tom")
    val stacked = Transform.run(wave1, cfg)("awareness_tom")
      .withColumn("wave", lit(1))
      .unionByName(Transform.run(wave2, cfg)("awareness_tom")
        .withColumn("wave", lit(2)))
    val out = graft.bht.Trend.waveOverWave(stacked, "wave", Seq("brand"), Some("count"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1)) -> (r.getDouble(2), Option(r.get(4))))
      .toMap
    assert(out((1, "A")) == (2.0, None))
    assert(out((2, "A")) == (1.0, Some(-1.0))) // A lost a mention
    assert(out((2, "B")) == (3.0, Some(2.0)))  // B gained two
  }

  // --- the fixed-shape tables: one fused aggregate, driver-resident ---

  private val survey = "src/test/resources/survey"
  private lazy val waveCfg = MappingConfig.load(s"$survey/mapping_config.json")
  private lazy val codebook = graft.io.Sources.readCodebook(spark, s"$survey/codebook.csv")
  private lazy val wave = graft.io.Sources.readCsv(spark, s"$survey/wave1.csv")

  /** Query executions (actions) `f` runs, counted on the drained bus. */
  private def executionsOf[A](f: => A): (A, Int) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        n.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val a = f
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (a, n.get)
    } finally spark.listenerManager.unregister(listener)
  }

  test("fixed-shape tables are driver-resident with the standalone operators' schemas") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import graft.bht.Kpis
    import graft.ops.{Cleaning, Tabulation}
    val (out, release) = Transform.runReleasable(wave, waveCfg, codebook)
    val df = Cleaning.applyCodebook(wave, codebook)
    val standalone = Map(
      "awareness_unaided" -> Tabulation.selectedCounts(df, waveCfg.awareness.unaided),
      "awareness_aided" -> Tabulation.selectedCounts(df, waveCfg.awareness.aided),
      "usage_ever_used" -> Tabulation.selectedCounts(df, waveCfg.usage.ever_used),
      "usage_bumo" -> Tabulation.selectedCounts(df, waveCfg.usage.bumo),
      "usage_consider" -> Tabulation.selectedCounts(df, waveCfg.usage.consider),
      "satisfaction_summary" -> Kpis.csatSummary(df, waveCfg.satisfaction.csat.get),
      "nps_summary" -> Kpis.npsSummary(df, waveCfg.nps.score.get))
    try standalone.foreach { case (name, op) =>
      assert(out(name).queryExecution.optimizedPlan.isInstanceOf[LocalRelation], name)
      assert(out(name).schema == op.schema, name)
      assert(out(name).collect().map(_.toString).sorted.toSeq ==
        op.collect().map(_.toString).sorted.toSeq, name)
    } finally release()
    // the data-sized tables stay distributed
    Seq("awareness_tom", "brand_dictionary", "tabulation").foreach { name =>
      assert(!out(name).queryExecution.optimizedPlan.isInstanceOf[LocalRelation], name)
    }
  }

  test("building Transform runs at most two aggregate executions; a TOM-only config none") {
    // the CSV's schema inference and the codebook's collect are the
    // reads' executions, not Transform's
    wave.schema
    codebook.size
    val ((_, release), full) = executionsOf(Transform.runReleasable(wave, waveCfg, codebook))
    release()
    assert(full <= 2, s"$full executions")
    val tomOnly = MappingConfig(awareness = AwarenessCfg(tom = Some("tom")))
    val (_, none) = executionsOf(Transform.run(Seq("A", "A", "B").toDF("tom"), tomOnly))
    assert(none == 0, s"$none executions")
  }
}
