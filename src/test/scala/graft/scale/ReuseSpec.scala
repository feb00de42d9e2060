package graft.scale

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.withConf

class ReuseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("reuse barrier: the four strategies keep values; a misspelled one is rejected") {
    val df = spark.range(10).toDF("x")
    Seq("lazy", "eager", "persist", "none").foreach { mode =>
      withConf("spark.graft.reuseBarrier", mode) {
        val b = Reuse.barrier(df)
        assert(b.collect().map(_.getLong(0)).toSeq == (0L until 10L))
        b.unpersist()
      }
    }
    withConf("spark.graft.reuseBarrier", "egaer") {
      val e = intercept[IllegalArgumentException](Reuse.barrier(df))
      assert(e.getMessage.contains("spark.graft.reuseBarrier") && e.getMessage.contains("'egaer'"))
    }
  }
}
