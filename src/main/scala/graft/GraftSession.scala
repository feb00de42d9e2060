package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main, tool and the test suite
  * gets its session here, so all of them run the configuration the
  * engine's results depend on.
  *   - UTC session time zone and `nanosAsLong`: events.parquet carries
  *     TIMESTAMP(NANOS), which Spark reads only as long nanos;
  *     `Sources.table` converts it back and requires UTC. The DuckDB
  *     oracle compares against exactly this reading.
  *   - graft's native SQL functions (`cosine_sim`, ...) registered.
  *   - Adaptive execution on, the UI off, and a throwaway warehouse dir
  *     (the bucketed-ingest roundtrip saveAsTable's a managed table),
  *     removed at JVM exit.
  * Callers choose only the parallelism: `local[cpus]` with `cpus`
  * shuffle partitions, or a deployment `master` with `cpus` partitions.
  * Any other conf comes in as a `-Dspark.<key>=<value>` JVM property,
  * which SparkConf loads.
  */
object GraftSession {
  def apply(cpus: Int, master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", graft.scale.Models.tempArtifactDir("graft-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
