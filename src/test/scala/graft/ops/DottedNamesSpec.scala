package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.bht.Kpis

/** Survey headers routinely contain dots ("Q1. Gender") — every operator
  * that takes a user-supplied column name must quote it, or `col()`
  * parses the dot as struct-field access.
  */
class DottedNamesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def df = Seq(
    ("North", "Male", "4", 1.0), ("South", "Female", "5", 2.0),
    ("North", "Female", "3", 1.0)
  ).toDF("Q1. Region", "Q2. Gender", "Q3. CSAT", "w.t")

  test("valueCounts / freqTable / distinctValues on dotted names") {
    assert(Tabulation.valueCounts(df, "Q1. Region").count() == 2)
    val f = Tabulation.freqTable(df, "Q2. Gender", Some("w.t"), 1)
    assert(f.count() == 2)
    assert(Tabulation.distinctValues(df, "Q1. Region").count() == 2)
  }

  test("crosstab on dotted names incl. dotted pivot values") {
    val d2 = df.withColumn("val.col", org.apache.spark.sql.functions.lit(1.5))
    val xt = Crosstab.crosstab(d2, "Q1. Region", "val.col", Some("w.t"), "total", true, 1)
    // pivot value "1.5" becomes a column literally named "1.5"
    assert(xt.columns.contains("1.5"))
    assert(xt.count() == 2 * 3) // (2 regions + Total) × {count, pct}
  }

  test("multiDim / selectedCounts / KPIs on dotted names") {
    val m = MultiDim.multiDimTabulation(df, Seq("Q1. Region", "Q2. Gender"), Some("w.t"), "Q1. Region", 1)
    assert(m.count() == 3)
    val s = Tabulation.selectedCounts(df, Seq("Q3. CSAT"))
    assert(s.head.getLong(1) == 3)
    assert(Kpis.csatSummary(df, "Q3. CSAT").count() == 3)
    assert(Kpis.npsSummary(df, "Q3. CSAT").count() == 5)
  }

  test("graph operators on dotted src/dst/weight names equal the plain-named run") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit}
    import graft.scale.Graph
    val plain = (0L until 120L).map(i => (i % 11, (i * 7 + 3) % 11, i % 3 + 1))
      .toDF("src", "dst", "w")
    val dotted = plain.toDF("src.id", "dst.id", "w.x")
    val seeds = Seq(0L, 5L).toDF("node")
    val tele = seeds.withColumn("teleport_micro", lit(1000000L))
    val ranks0 = Graph.pageRank(plain, "src", "dst", 2)
    def sorted(df: DataFrame) = df.orderBy(df.columns.map(col): _*).collect().toSeq
    def same(name: String)(run: (DataFrame, String, String, String) => DataFrame): Unit =
      assert(sorted(run(dotted, "src.id", "dst.id", "w.x")) ===
        sorted(run(plain, "src", "dst", "w")), name)
    same("pageRank")((e, s, d, _) => Graph.pageRank(e, s, d, 3))
    same("pageRankWeighted")((e, s, d, w) => Graph.pageRankWeighted(e, s, d, w, 3))
    same("pageRankPersonalized")((e, s, d, _) => Graph.pageRankPersonalized(e, s, d, tele, 3))
    same("pageRankRefresh")((e, s, d, _) => Graph.pageRankRefresh(e, s, d, ranks0, 2))
    same("hits")((e, s, d, _) => Graph.hits(e, s, d, 3))
    same("seedDistance")((e, s, d, _) => Graph.seedDistance(e, s, d, seeds, 3))
    same("coCitation")((e, s, d, _) => Graph.coCitation(e, s, d, 8, 1L))
    same("degreeAudit")((e, s, d, _) => Graph.degreeAudit(e, s, d))
  }

  test("fullTabulation + codebook recode on dotted names") {
    assert(Tabulation.fullTabulation(df).select("column").distinct().count() == 4)
    val r = Cleaning.applyCodebook(df, Map("Q2. Gender" -> Map("Male" -> "M")))
    assert(r.filter(Cleaning.qcol("Q2. Gender") === "M").count() == 1)
  }
}
