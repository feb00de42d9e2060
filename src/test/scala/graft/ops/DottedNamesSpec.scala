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

  test("preference operators on dotted winner/loser and item/rater/label/wave names equal the plain-named run") {
    import org.apache.spark.sql.DataFrame
    import graft.scale.Preferences
    val games = (for (a <- 1 to 6; b <- 1 to 6 if a < b; r <- 1 to (a + b) % 3 + 1)
      yield if ((a * 5 + b * 3 + r) % 4 < 2) (a.toLong, b.toLong) else (b.toLong, a.toLong))
      .toDF("winner", "loser")
    val dottedGames = games.toDF("winner.id", "loser.id")
    // rater c skips every 5th item, so the panel is ragged
    val ratings = (for (i <- 1 to 12; r <- Seq("a", "b", "c") if !(r == "c" && i % 5 == 0))
      yield (i.toLong, r, if ((i * 3 + r.head) % 4 < 2) "x" else "y", (i % 3).toLong))
      .toDF("item", "rater", "label", "wave")
    val dottedRatings = ratings.toDF("item.id", "rater.id", "label.v", "wave.n")
    def sorted(df: DataFrame) = df.orderBy(df.columns.map(Cleaning.qcol): _*).collect().toSeq
    def sameGames(name: String)(run: (DataFrame, String, String) => DataFrame): Unit =
      assert(sorted(run(dottedGames, "winner.id", "loser.id")) ===
        sorted(run(games, "winner", "loser")), name)
    def sameRatings(name: String)(
        run: (DataFrame, String, String, String, String) => DataFrame): Unit =
      assert(sorted(run(dottedRatings, "item.id", "rater.id", "label.v", "wave.n")) ===
        sorted(run(ratings, "item", "rater", "label", "wave")), name)
    sameGames("itemStats")(Preferences.itemStats)
    sameGames("pairStats")(Preferences.pairStats)
    sameGames("btStrengths")((g, w, l) => Preferences.btStrengths(g, w, l))
    sameGames("btConvergence")((g, w, l) => Preferences.btConvergence(g, w, l, iterations = 3))
    sameGames("winRateWilson")((g, w, l) => Preferences.winRateWilson(g, w, l))
    sameGames("btCalibration")((g, w, l) => Preferences.btCalibration(g, w, l))
    sameGames("coverageAudit")((g, w, l) => Preferences.coverageAudit(g, w, l))
    sameRatings("cohenKappa")((r, i, ra, l, _) => Preferences.cohenKappa(r, i, ra, l, "a", "b"))
    sameRatings("fleissKappa")((r, i, ra, l, _) => Preferences.fleissKappa(r, i, ra, l))
    sameRatings("krippendorffAlpha")((r, i, ra, l, _) => Preferences.krippendorffAlpha(r, i, ra, l))
    sameRatings("consensusLabels")((r, i, ra, l, _) => Preferences.consensusLabels(r, i, ra, l))
    sameRatings("raterConsensusAgreement")(
      (r, i, ra, l, _) => Preferences.raterConsensusAgreement(r, i, ra, l))
    sameRatings("raterAgreementMatrix")(
      (r, i, ra, l, _) => Preferences.raterAgreementMatrix(r, i, ra, l))
    sameRatings("kappaDrift")(
      (r, i, ra, l, w) => Preferences.kappaDrift(r, i, ra, l, "a", "b", w))
  }

  test("annTopK on dotted id/query-id names equals the plain-named run") {
    import org.apache.spark.sql.DataFrame
    import graft.scale.Similarity
    // 24 vectors, 8 distinct: the default exact-collapse path expands members
    val corpus = (0L until 24L).map { i =>
      (i, Array.tabulate(8)(j => (math.sin((i % 4 + i / 8) * 0.37 + j) + 2.0).toFloat))
    }.toDF("vec", "embedding")
    val queries = corpus.filter($"vec" < 3L).toDF("query", "embedding")
    def run(c: DataFrame, q: DataFrame, id: String, qid: String) =
      Similarity.annTopK(c, q, id, "embedding", qid, k = 3, bits = 4, tables = 4, dim = 8)
        .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    val plain = run(corpus, queries, "vec", "query")
    assert(plain.nonEmpty)
    assert(run(corpus.toDF("vec.id", "embedding"), queries.toDF("query.id", "embedding"),
      "vec.id", "query.id") === plain)
  }

  test("rrfFuse on a dotted rank name equals the plain-named run") {
    import org.apache.spark.sql.DataFrame
    import graft.scale.Similarity
    val la = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1)).toDF("query", "doc", "rank")
    val lb = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("query", "doc", "rank")
    def run(a: DataFrame, b: DataFrame, rank: String) =
      Similarity.rrfFuse(a, b, "query", "doc", rankCol = rank)
        .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    assert(run(la.toDF("query", "doc", "rank.r"), lb.toDF("query", "doc", "rank.r"), "rank.r") ===
      run(la, lb, "rank"))
  }

  test("fullTabulation + codebook recode on dotted names") {
    assert(Tabulation.fullTabulation(df).select("column").distinct().count() == 4)
    val r = Cleaning.applyCodebook(df, Map("Q2. Gender" -> Map("Male" -> "M")))
    assert(r.filter(Cleaning.qcol("Q2. Gender") === "M").count() == 1)
  }

  test("eventTrigrams on dotted user/ts/id/type names equals the plain-named run") {
    import org.apache.spark.sql.DataFrame
    val plain = (0L until 60L).map(i => (i % 4, (i * 7) % 23, i, s"t${i % 3}"))
      .toDF("user_id", "ts", "event_id", "event_type")
    def run(e: DataFrame, u: String, ts: String, id: String, tp: String) =
      Cohorts.eventTrigrams(e, u, ts, id, tp)
        .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    assert(run(plain.toDF("u.id", "ts.x", "e.id", "type.t"), "u.id", "ts.x", "e.id", "type.t") ===
      run(plain, "user_id", "ts", "event_id", "event_type"))
  }

  test("countMinGate on a dotted key name equals the plain-named run") {
    val plain = (0L until 200L).map(i => (i % 13) * (i % 3)).toDF("k")
    def run(d: org.apache.spark.sql.DataFrame, key: String) =
      Stats.countMinGate(d, key, probeKeys = 5).collect().map(_.toSeq).toSeq
    assert(run(plain.toDF("k.id"), "k.id") === run(plain, "k"))
  }
}
