package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class GraftSqlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("native functions callable from plain SQL after registration") {
    val r = spark.sql(
      """SELECT
        |  cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cs,
        |  simhash64(array('a','b','c')) AS sh,
        |  jaccard_sorted(array(1L,2L,3L), array(2L,3L,4L)) AS js,
        |  size(hashed_shingle_set(array('a','b','c'), 2)) AS hs,
        |  size(shingle_minhash(array('a','b','c','d'), 2, 16)) AS mh,
        |  simhash_portable(array('a','b','c')) AS shp
        |""".stripMargin).head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(2) == 0.5)
    assert(r.getInt(3) == 2)
    assert(r.getInt(4) == 16)
    // 60-bit portable fingerprint: nonzero, top 4 bits clear
    assert(r.getLong(5) != 0L && (r.getLong(5) >>> 60) == 0L)
  }

  test("custom aggregates and l2_normalize callable from plain SQL") {
    import spark.implicits._
    Seq(("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 20L), ("b", 9L, 7L))
      .toDF("g", "v", "w").createOrReplaceTempView("gvw")
    val top = spark.sql(
      "SELECT g, bounded_top_k(v, w, 2) AS t FROM gvw GROUP BY g ORDER BY g")
      .collect()
    assert(top(0).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getLong(0), r.getLong(1)))
      == Seq((2L, 30L), (3L, 20L)))
    // double-weight variant: default keeps the largest (like
    // bounded_top_k); ascending=true flips to k-smallest (distance)
    Seq(("a", 1L, 1.5), ("a", 2L, 3.25), ("a", 3L, 2.0), ("b", 9L, 7.0))
      .toDF("g", "v", "w").createOrReplaceTempView("gvwd")
    val topD = spark.sql(
      "SELECT g, bounded_top_k_double(v, w, 2) AS t FROM gvwd GROUP BY g ORDER BY g")
      .collect()
    assert(topD(0).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getLong(0), r.getDouble(1)))
      == Seq((2L, 3.25), (3L, 2.0)))
    val topAsc = spark.sql(
      "SELECT g, bounded_top_k_double(v, w, 2, true) AS t FROM gvwd GROUP BY g ORDER BY g")
      .collect()
    assert(topAsc(0).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getLong(0), r.getDouble(1)))
      == Seq((1L, 1.5), (3L, 2.0)))
    // plain `0.5` parses as a DECIMAL literal (Spark's Decimal value
    // class) — the natural SQL spelling must work, not just `0.5D`
    val med = spark.sql(
      "SELECT g, weighted_quantile_sketch(v, w, 0.5) AS m FROM gvw GROUP BY g ORDER BY g")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(med == Map("a" -> 2L, "b" -> 9L))
    val medD = spark.sql(
      "SELECT g, weighted_quantile_sketch(v, w, 0.5D) AS m FROM gvw GROUP BY g ORDER BY g")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(medD == med)
    val n = spark.sql("SELECT l2_normalize(array(3.0D, 4.0D)) AS n").head.getSeq[Double](0)
    assert(n == Seq(0.6, 0.8))
    // NFC: decomposed e + combining acute composes to U+00E9
    val nfc = spark.sql("SELECT normalize_nfc('cafe\u0301') AS s").head.getString(0)
    assert(nfc == "caf\u00e9")
  }

  test("SQL function matches the Column API") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Array(0.5f, 1.5f), Array(1.0f, -0.5f))).toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val api = df.select(Native.cosineSim(col("a"), col("b"))).head.getDouble(0)
    val sql = spark.sql("SELECT cosine_sim(a, b) FROM vecs").head.getDouble(0)
    assert(api == sql)
  }
}
