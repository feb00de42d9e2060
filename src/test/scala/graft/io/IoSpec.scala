package graft.io

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class IoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("S1 CSV roundtrip with schema inference") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val path = s"$dir/t.csv"
    Files.writeString(java.nio.file.Paths.get(path), "a,b\n1,x\n2,y\n")
    val df = Sources.readTable(spark, path)
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.schema("a").dataType.typeName == "integer")
    assert(df.count() == 2)
  }

  test("ORC roundtrip via readTable with pushdown reaching the scan") {
    val dir = Files.createTempDirectory("graft_orc").toString + "/t.orc"
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5)).toDF("id", "s", "v")
    df.write.mode("overwrite").orc(dir)
    val back = Sources.readTable(spark, dir)
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
    // filter + projection push into the ORC scan like parquet
    val q = back.filter($"s" === "a").select("id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && q.count() == 2L)
  }

  test("S3 codebook reader: groups per column, stringifies values") {
    val dir = Files.createTempDirectory("graft_cb").toString
    val path = s"$dir/cb.csv"
    Files.writeString(java.nio.file.Paths.get(path),
      "column,value,label\ngender,1,Male\ngender,2,Female\ncity,1,Jakarta\n")
    val cb = Sources.readCodebook(spark, path)
    assert(cb == Map(
      "gender" -> Map("1" -> "Male", "2" -> "Female"),
      "city" -> Map("1" -> "Jakarta")))
  }

  test("S3 codebook rejects wrong schema") {
    val dir = Files.createTempDirectory("graft_cb2").toString
    val path = s"$dir/bad.csv"
    Files.writeString(java.nio.file.Paths.get(path), "col,val\nx,y\n")
    assertThrows[IllegalArgumentException](Sources.readCodebook(spark, path))
  }

  test("S2/S5 Excel roundtrip: write multi-sheet workbook, read sheet1 back typed") {
    val dir = Files.createTempDirectory("graft_xlsx").toString
    val path = s"$dir/out.xlsx"
    val t1 = Seq((1L, "alpha", 1.5), (2L, "beta & <co>", 2.0), (3L, null, 0.25))
      .toDF("id", "name", "score")
    val t2 = Seq(("m", 10L)).toDF("metric", "value")
    Excel.write(Map("first_table" -> t1, ("x" * 40) -> t2), path)

    val back = Excel.read(spark, path)
    assert(back.columns.toSeq == Seq("id", "name", "score"))
    assert(back.schema("id").dataType.typeName == "long")
    assert(back.schema("score").dataType.typeName == "double")
    val rows = back.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(2L).getString(1) == "beta & <co>") // XML escaping roundtrip
    assert(rows(3L).isNullAt(1))
    assert(rows(3L).getDouble(2) == 0.25)
    // dispatches through readTable too
    assert(Sources.readTable(spark, path).count() == 3)
  }

  test("S2 legacy .xls (BIFF8) roundtrip: numbers, strings, nulls, wide chars") {
    val dir = Files.createTempDirectory("graft_xls").toString
    val path = s"$dir/out.xls"
    val t = Seq((1L, "alpha", 1.5), (2L, "héllo wörld ✓", 2.0), (3L, null, 0.25))
      .toDF("id", "name", "score")
    Xls.write("first", t, path)

    val back = Sources.readTable(spark, path)
    assert(back.columns.toSeq == Seq("id", "name", "score"))
    assert(back.schema("id").dataType.typeName == "long")
    assert(back.schema("score").dataType.typeName == "double")
    val rows = back.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getString(1) == "alpha")
    assert(rows(2L).getString(1) == "héllo wörld ✓") // UTF-16 SST path
    assert(rows(3L).isNullAt(1))
    assert(rows(3L).getDouble(2) == 0.25)
  }

  test(".xls writer: longs beyond 2^53 survive as SST strings, not truncated doubles") {
    val dir = Files.createTempDirectory("graft_xls53").toString
    val path = s"$dir/fp.xls"
    val big = (1L << 53) + 1 // not representable as a double
    val t = Seq((1L, big), (2L, -big), (3L, 42L)).toDF("id", "fp")
    Xls.write("f", t, path)
    val back = Sources.readTable(spark, path).collect()
      .map(r => r.getLong(0) -> r.get(1).toString).toMap
    // value-exact roundtrip (as strings — Excel has no 64-bit int cell;
    // a NUMBER record would have come back as (1<<53).0 with the +1 lost)
    assert(back(1L) == big.toString)
    assert(back(2L) == (-big).toString)
    assert(back(3L) == "42" || back(3L) == "42.0") // safe range stays numeric
  }

  test("S2 .xls reader: ministream (small) and standard-sector (>=4KB) containers") {
    val dir = Files.createTempDirectory("graft_xls2").toString
    // small → ministream
    val small = s"$dir/small.xls"
    Xls.write("s", Seq((1L, "a")).toDF("k", "v"), small)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(small)) < 4096 + 2048)
    assert(Sources.readTable(spark, small).count() == 1)
    // big → standard FAT chain (1k distinct strings blow past the 4096 cutoff)
    val big = s"$dir/big.xls"
    val bigDf = (1 to 1000).map(i => (i.toLong, s"value_$i")).toDF("k", "v")
    Xls.write("b", bigDf, big)
    val backBig = Sources.readTable(spark, big)
    assert(backBig.count() == 1000)
    assert(backBig.filter($"k" === 1000L).head().getString(1) == "value_1000")
  }

  test("S2 .xls reader rejects non-CFB bytes with a clear error") {
    val p = java.nio.file.Paths.get(
      Files.createTempDirectory("graft_xls3").toString, "junk.xls")
    Files.write(p, "this is not an xls".getBytes)
    val e = intercept[IllegalArgumentException](Sources.readTable(spark, p.toString))
    assert(e.getMessage.contains("CFB"))
  }

  test("S5 sheet-name truncation to 31 chars (Excel contract)") {
    assert(Sinks.sheetName("a" * 40).length == 31)
  }

  test("driver-side export sinks fail fast past the row cap") {
    val big = spark.range(100).toDF("id")
    val e = intercept[IllegalArgumentException](
      Sinks.collectBounded(big, "Excel sheet", cap = 10))
    assert(e.getMessage.contains("capped") && e.getMessage.contains("writeCsv"))
    // exactly at the cap is fine, and only cap+1 rows are ever fetched
    assert(Sinks.collectBounded(big, "x", cap = 100).length == 100)
  }

  test("S6 JSON bundle: {table: [row objects]}") {
    val tables = Map("t1" -> Seq((1, "x"), (2, "y")).toDF("id", "v"))
    val json = Sinks.jsonBundle(tables)
    assert(json.contains("\"t1\""))
    assert(json.contains("{\"id\":1,\"v\":\"x\"}"))
  }

  test("JSONL roundtrip via extension dispatch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val df = Seq((1L, "hello world", "en"), (2L, "hola", "es")).toDF("doc_id", "text", "lang")
    df.write.json(s"$dir/docs")
    // Spark writes part-*.json; read the directory back as jsonl
    val back = spark.read.json(s"$dir/docs")
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq == Seq("doc_id", "lang", "text"))
    // extension dispatch on a single .jsonl file
    val one = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/docs"))
      .filter(p => p.toString.endsWith(".json")).findFirst().get()
    val renamed = java.nio.file.Paths.get(s"$dir/sample.jsonl")
    java.nio.file.Files.copy(one, renamed)
    assert(Sources.readTable(spark, renamed.toString).count() > 0)
  }

  // --- writeParquet: driver-resident frames are written without a job ---

  private def localFrame(rows: Seq[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("name", StringType),
      StructField("n.id", LongType, nullable = false),
      StructField("score", DoubleType),
      StructField("at", TimestampType),
      StructField("note", StringType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private val sample = {
    import org.apache.spark.sql.Row
    Seq(
      Row("a", 1L, 1.5, java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"), null),
      Row(null, 2L, null, null, null),
      Row("c.d", -3L, Double.NaN, java.sql.Timestamp.valueOf("1999-12-31 23:59:59"), "x"))
  }

  private def partFiles(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    Files.list(java.nio.file.Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
  }

  /** The parquet schema (required/optional included) and Spark's row
    * metadata in the footer of a part file of `dir`. */
  private def footer(dir: String): (String, Option[String]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(partFiles(dir).head.toString),
      spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try {
      val meta = r.getFooter.getFileMetaData
      (meta.getSchema.toString,
        Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")))
    } finally r.close()
  }

  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.ListenerDrain(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("writeParquet of a local frame equals Spark's write: footer schema, nullability, rows") {
    val dir = Files.createTempDirectory("graft_local_pq").toString
    val df = localFrame(sample)
    Sinks.writeParquet(Map("t" -> df), dir)
    df.write.parquet(s"$dir/spark")
    assert(partFiles(s"$dir/t").size == 1)
    assert(partFiles(s"$dir/t").head.getFileName.toString
      .matches("part-00000-[0-9a-f-]{36}-c000\\.snappy\\.parquet"))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/t/_SUCCESS")))
    val (schema, meta) = footer(s"$dir/t")
    assert((schema, meta) == footer(s"$dir/spark"))
    assert(schema.contains("required int64 n.id") && schema.contains("optional binary name"))
    val (ours, theirs) = (spark.read.parquet(s"$dir/t"), spark.read.parquet(s"$dir/spark"))
    assert(ours.schema == theirs.schema)
    assert(ours.collect().map(_.toString).sorted.toSeq == theirs.collect().map(_.toString).sorted.toSeq)
    assert(ours.collect().map(_.toString).sorted.toSeq == df.collect().map(_.toString).sorted.toSeq)
  }

  test("writeParquet of an empty local frame writes one footer-only file; a rewrite overwrites") {
    val dir = Files.createTempDirectory("graft_local_pq2").toString
    val empty = localFrame(Nil)
    Sinks.writeParquet(Map("t" -> empty), dir)
    empty.write.parquet(s"$dir/spark")
    assert(partFiles(s"$dir/t").size == 1)
    assert(footer(s"$dir/t") == footer(s"$dir/spark"))
    assert(spark.read.parquet(s"$dir/t").schema == spark.read.parquet(s"$dir/spark").schema)
    assert(spark.read.parquet(s"$dir/t").count() == 0)
    // overwrite: the directory holds exactly the new table afterwards
    Sinks.writeParquet(Map("t" -> localFrame(sample)), dir)
    Sinks.writeParquet(Map("t" -> localFrame(sample.take(2))), dir)
    assert(partFiles(s"$dir/t").size == 1)
    assert(spark.read.parquet(s"$dir/t").count() == 2)
  }

  test("writeParquet runs no Spark job for a local frame and the usual jobs otherwise") {
    val dir = Files.createTempDirectory("graft_local_pq3").toString
    val local = localFrame(sample)
    assert(local.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(jobsOf(Sinks.writeParquet(Map("local" -> local), dir)) == 0)
    val distributed = spark.range(0, 10, 1, 2).toDF("id")
    assert(jobsOf(Sinks.writeParquet(Map("range" -> distributed), dir)) > 0)
    assert(spark.read.parquet(s"$dir/range").count() == 10)
    assert(spark.read.parquet(s"$dir/local").count() == 3)
  }
}
