package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.withConf

/** The one driver-collect budget (`spark.graft.maxDriverRows`): parsing,
  * clamping, the exact budget boundary, and that every fold site falls
  * back to its distributed loop — with the same output — when the main
  * frame OR a caller-supplied side frame is over budget. */
class DriverFoldSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A driver fold returns a frame built from collected rows; the
    * distributed loops return a join plan. */
  private def folded(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  private def sorted(df: DataFrame) = df.orderBy(df.columns.map(col): _*).collect().toSeq

  test("a non-numeric spark.graft.maxDriverRows is rejected, naming the conf") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    withConf(DriverFold.Conf, "2M") {
      val e = intercept[IllegalArgumentException](DriverFold.budget(spark))
      assert(e.getMessage.contains(DriverFold.Conf) && e.getMessage.contains("'2M'"))
      val viaFold = intercept[IllegalArgumentException](
        Graph.pageRank(edges, "src", "dst", iterations = 2))
      assert(viaFold.getMessage.contains(DriverFold.Conf))
    }
  }

  test("budgets clamp below Int.MaxValue; zero or negative always runs distributed") {
    assert(DriverFold.budget(spark) == DriverFold.DefaultMaxRows)
    withConf(DriverFold.Conf, Long.MaxValue.toString) {
      assert(DriverFold.budget(spark) == Int.MaxValue - 1)
    }
    withConf(DriverFold.Conf, " 99999999999999999999999 ") {
      assert(DriverFold.budget(spark) == Int.MaxValue - 1)
    }
    val df = (1L to 5L).toDF("x")
    Seq("0", "-7").foreach { v =>
      withConf(DriverFold.Conf, v)(assert(DriverFold.collect(df, col("x")).isEmpty))
    }
  }

  test("a budget of Long.MaxValue does not attempt an unbounded collect") {
    // the clamped limit(budget + 1) = limit(Int.MaxValue) is a legal,
    // honoured limit: the fold still runs and matches the distributed loop
    val edges = (0L until 40L).map(i => (i % 7, (i * 3 + 1) % 7)).toDF("src", "dst")
    val dist = withConf(DriverFold.Conf, "0")(sorted(Graph.pageRank(edges, "src", "dst", 3)))
    withConf(DriverFold.Conf, Long.MaxValue.toString) {
      assert(DriverFold.collect(edges, col("src")).map(_.length).contains(40))
      val pr = Graph.pageRank(edges, "src", "dst", 3)
      assert(folded(pr))
      assert(sorted(pr) === dist)
    }
  }

  test("the budget is exact: n rows fit a budget of n, not n - 1") {
    val df = (1L to 5L).toDF("x")
    withConf(DriverFold.Conf, "5") {
      assert(DriverFold.collect(df, col("x")).map(_.map(_.getLong(0)).toSeq)
        .contains(1L to 5L))
    }
    withConf(DriverFold.Conf, "4")(assert(DriverFold.collect(df, col("x")).isEmpty))
  }

  test("a budget of 1 falls back to the distributed loop for Graph and BT, same output") {
    val edges = (0L until 60L).map(i => (i % 11, (i * 7 + 3) % 11)).toDF("src", "dst")
    val games = (for (a <- 1 to 6; b <- 1 to 6 if a < b; r <- 1 to (a + b) % 3 + 1)
      yield if ((a * 3 + b + r) % 5 < 3) (a.toLong, b.toLong) else (b.toLong, a.toLong))
      .toDF("winner", "loser")
    def pr = Graph.pageRank(edges, "src", "dst", 4)
    def bt = Preferences.btStrengths(games, "winner", "loser", iterations = 4)
    assert(folded(pr) && folded(bt))
    withConf(DriverFold.Conf, "1") {
      assert(!folded(pr) && !folded(bt))
    }
    assert(withConf(DriverFold.Conf, "1")(sorted(pr)) === sorted(pr))
    assert(withConf(DriverFold.Conf, "1")(sorted(bt)) === sorted(bt))
  }

  test("a seeds or init frame larger than the budget falls back instead of being collected") {
    // 4 prepared edges fit a budget of 8; the 20-row seeds frame does not
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val seeds = (1L to 20L).toDF("node")
    def sd = Graph.seedDistance(edges, "src", "dst", seeds, maxHops = 3)
    assert(folded(sd))
    val overSeeds = withConf(DriverFold.Conf, "8") {
      val df = sd
      assert(!folded(df))
      sorted(df)
    }
    assert(overSeeds === sorted(sd))
    // the warm-start rank frame of a pageRank refresh, same shape
    val ranks0 = (1L to 20L).toDF("node").withColumn("rank_micro", lit(900000L))
    def refresh = Graph.pageRankRefresh(edges, "src", "dst", ranks0, iterations = 2)
    val overRanks = withConf(DriverFold.Conf, "8") {
      val df = refresh
      assert(!folded(df))
      sorted(df)
    }
    assert(overRanks === sorted(refresh))
    // BT: 3 items → 3 pairs → 6 directed rows fit a budget of 6; the
    // warm-start init frame (3 real items + 20 absent ones) does not
    val games = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 1L)).toDF("winner", "loser")
    val pairs = Preferences.pairStats(games, "winner", "loser")
    val init = Preferences.btStrengths(games, "winner", "loser")
      .select(col("item"), col("strength_micro"))
      .union((100L until 120L).toDF("item").withColumn("strength_micro", lit(5L)))
    def warm = Preferences.btStrengthsFromPairs(pairs, iterations = 2, init = Some(init))
    assert(folded(warm))
    val overInit = withConf(DriverFold.Conf, "6") {
      val df = warm
      assert(!folded(df))
      sorted(df)
    }
    assert(overInit === sorted(warm))
  }
}
