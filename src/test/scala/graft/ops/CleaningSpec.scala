package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class CleaningSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("T1 norm: trim + lowercase") {
    val got = Seq("  Hello World  ").toDF("c")
      .select(Cleaning.norm(col("c"))).head.getString(0)
    assert(got == "hello world")
  }

  test("T3 numeric coercion: null on unparseable (pandas to_numeric coerce)") {
    val got = Seq("1.5", "abc", null).toDF("c")
      .select(Cleaning.toNumeric(col("c"))).collect().map(r => Option(r.get(0)))
    assert(got.toSeq == Seq(Some(1.5), None, None))
  }

  test("T4 weights: missing/unparseable -> 0.0, absent column -> 1.0") {
    val df = Seq(("a", "2"), ("b", "x"), ("c", null)).toDF("k", "w")
    val withW = df.select(Cleaning.weightExpr(df, Some("w"))).collect().map(_.getDouble(0))
    assert(withW.toSeq == Seq(2.0, 0.0, 0.0))
    val noW = df.select(Cleaning.weightExpr(df, Some("nope"))).head.getDouble(0)
    assert(noW == 1.0)
    val none = df.select(Cleaning.weightExpr(df, None)).head.getDouble(0)
    assert(none == 1.0)
  }

  test("T6 selected: '0' deselects, '0.0'/'no'/' 0 ' select, empty/null deselect") {
    val df = Seq("0", "0.0", "no", " 0 ", "", "  ", null, "yes").toDF("c")
    val got = df.select(Cleaning.selected(col("c"))).collect().map(_.getBoolean(0))
    // app.py:401: lower() runs on the UN-trimmed string, so " 0 " IS selected
    assert(got.toSeq == Seq(false, true, true, true, false, false, false, true))
  }

  test("T8 pandas stringify: null becomes literal 'nan'") {
    val df = Seq[(java.lang.Integer, String)]((1, "x"), (null, "y")).toDF("c", "k")
    val got = df.select(Cleaning.strAsPandasTyped(df, "c")).collect().map(_.getString(0))
    assert(got.toSeq == Seq("1", "nan"))
  }

  test("T5 codebook recode: mapped values relabel, unmapped keep original, empty map = stringify only") {
    val df = Seq(("1", "a"), ("2", "b"), ("9", "c")).toDF("code", "other")
    val out = Cleaning.applyCodebook(df, Map("code" -> Map("1" -> "One", "2" -> "Two")))
      .select("code").collect().map(_.getString(0))
    assert(out.toSeq == Seq("One", "Two", "9"))
    val id = Cleaning.applyCodebook(df, Map.empty).select("code").collect().map(_.getString(0))
    assert(id.toSeq == Seq("1", "2", "9"))
  }

  test("T9 nonEmpty filter drops null and blank") {
    val df = Seq("a", " ", "", null).toDF("c")
    assert(df.filter(Cleaning.nonEmpty(col("c"))).count() == 1)
  }
}
