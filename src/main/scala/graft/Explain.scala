package graft

import org.apache.spark.sql.SparkSession

/** Plan inspection: prints `explain("formatted")` for selected queries.
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  /** Register graft's SQL functions on `spark` (a caller's session may
    * not come from `GraftSession`), then print each named query's
    * formatted plan. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    graft.functions.GraftFunctions.register(spark)
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        println(s"\n===== $n =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession(4)
    run(spark, sfDir, names)
    spark.stop()
  }
}
