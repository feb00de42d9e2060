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
}
