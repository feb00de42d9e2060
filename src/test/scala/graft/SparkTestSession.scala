package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM, built by the same
  * factory as the shipped entry points. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(4)

  /** Run `f` with a session conf set, restoring the previous value. */
  def withConf[A](key: String, value: String)(f: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
