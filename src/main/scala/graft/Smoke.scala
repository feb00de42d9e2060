package graft

/** CLI smoke: exercises the driver's `SparkEntry.entry` contract the
  * same way the round driver does (flagship pipeline on sf0.001,
  * expects rows > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
