package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class SkewProfileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("saltedJoin output equals the plain join, under any partitioning") {
    // 90% of rows share one hot key
    val left = (0L until 1000L)
      .map(i => (if (i < 900) 7L else i % 50, s"v$i")).toDF("k", "lv")
    val right = (0L until 50L).map(i => (i, s"dim$i")).toDF("k", "rv")
    val plain = left.join(right, "k").collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(left, right, "k", salts = 8)
      .select("k", "lv", "rv").collect().map(_.toSeq).toSet
    assert(salted == plain)
    val saltedRep = Skew.saltedJoin(left.repartition(13), right, "k", salts = 8)
      .select("k", "lv", "rv").collect().map(_.toSeq).toSet
    assert(saltedRep == plain)
  }

  test("saltedJoin left_outer keeps unmatched left rows exactly once") {
    val left = Seq((1L, "a"), (2L, "b"), (99L, "orphan")).toDF("k", "lv")
    val right = Seq((1L, "x"), (2L, "y")).toDF("k", "rv")
    val out = Skew.saltedJoin(left, right, "k", salts = 4, joinType = "left_outer")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(out.length == 3)
    assert(out.count(_._3.isEmpty) == 1)
  }

  test("saltedJoin refuses right/full outer (replicas would duplicate unmatched rows)") {
    val l = Seq((1L, "a")).toDF("k", "lv")
    val r = Seq((1L, "x")).toDF("k", "rv")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(l, r, "k", 4, joinType = "right_outer")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(l, r, "k", 4, joinType = "full")
    }
  }

  test("sampleByTokenBudget keeps null-group rows (null-safe totals join)") {
    val df = Seq(
      (1L, "one two three", null.asInstanceOf[String]),
      (2L, "four five six", "g")).toDF("doc_id", "text", "source")
    val kept = graft.scale.Sampling.sampleByTokenBudget(df, "doc_id", "text", "source", Map("g" -> 100L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L)) // null group unbudgeted -> kept whole
  }

  test("zscore: exact moments, null on tiny or constant groups") {
    val df = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("g", 4L), ("g", 5L),
      ("solo", 7L), ("const", 2L), ("const", 2L)).toDF("grp", "v")
    val out = Stats.zscore(df, "v", Seq("grp")).collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
    // group g: mean 3, var 2.5
    val g = out.filter(_._1 == "g").sortBy(_._2)
    assert(g.map(_._3.get).zip(Seq(-2.0, -1.0, 0.0, 1.0, 2.0).map(_ / math.sqrt(2.5)))
      .forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(out.filter(_._1 == "solo").forall(_._3.isEmpty)) // n < 2
    assert(out.filter(_._1 == "const").forall(_._3.isEmpty)) // zero variance
  }

  test("zscore: fractional column rejected at exact=true, correct at exact=false") {
    val df = Seq(("g", 1.5), ("g", 2.5), ("g", 3.5)).toDF("grp", "v")
    // exact=true would silently truncate 1.5→1 via the long cast — must throw
    val e = intercept[IllegalArgumentException](Stats.zscore(df, "v", Seq("grp")))
    assert(e.getMessage.contains("exact = false"))
    // exact=false: double moments, true z-scores of (1.5, 2.5, 3.5)
    val out = Stats.zscore(df, "v", Seq("grp"), exact = false).collect()
      .map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(math.abs(out(2.5)) < 1e-12)
    assert(math.abs(out(1.5) + 1.0) < 1e-12 && math.abs(out(3.5) - 1.0) < 1e-12)
  }

  test("profile counts rows, nulls, and distincts per column") {
    val df = Seq(
      (Some("a"), Some(1)), (Some("a"), None),
      (Some("b"), Some(2)), (None, Some(2))
    ).toDF("s", "i")
    val m = Stats.profile(df, Seq("s", "i")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m("s") == ((4L, 1L, 2L))) // a, a, b, null
    assert(m("i") == ((4L, 1L, 2L))) // 1, null, 2, 2
  }

  test("profile approx mode returns counts in the right ballpark") {
    val df = (0L until 5000L).map(i => i % 1000).toDF("v")
    val r = Stats.profile(df, Seq("v"), approx = true).head()
    assert(r.getLong(1) == 5000L && r.getLong(2) == 0L)
    val nd = r.getLong(3)
    assert(nd > 900L && nd < 1100L) // HLL within a few percent of 1000
  }

  test("saltAdvisor: exact micro shares, ceil salts, null key surfaced") {
    // 100 rows on the hot key, 10 on a warm one, 5 nulls: total 115
    val df = ((0 until 100).map(_ => Option(7L)) ++
      (0 until 10).map(_ => Option(2L)) ++
      (0 until 5).map(_ => Option.empty[Long])).toDF("k")
    val got = Skew.saltAdvisor(df, "k", rowsPerTask = 32L, topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      // share_micro = n * 1e6 div 115 (truncating); salt = ceil(n / 32)
      ("7", 100L, 869565L, 4L, true),
      ("2", 10L, 86956L, 1L, false),
      ("null", 5L, 43478L, 1L, false)))
    // topK caps the head without disturbing its order
    assert(Skew.saltAdvisor(df, "k", 32L, topK = 1)
      .collect().map(_.getString(0)).toSeq == Seq("7"))
  }

  test("saltAdvisor: count ties break deterministically by key ascending") {
    val df = Seq("b", "a", "b", "a", "c").toDF("k")
    val got = Skew.saltAdvisor(df, "k", rowsPerTask = 10L, topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 2L), ("b", 2L), ("c", 1L)))
  }
}
