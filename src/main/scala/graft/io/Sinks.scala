package graft.io

import java.nio.file.{Files, Paths}
import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Sinks (SURVEY.md §2.1 S5–S7).
  *
  * The reference exports every result table to one Excel workbook
  * (app.py:592-605) and a JSON bundle `{table: [row objects]}`
  * (app.py:607-615). Result tables are dashboard-sized summaries, so a
  * driver-side JSON bundle is legitimate even at 100 TB input scale; the
  * Parquet sink is the at-scale path for anything large.
  */
object Sinks {

  /** Primary at-scale sink: one Parquet dir per table, overwritten.
    *
    * A driver-resident table — one whose optimized plan is a
    * non-streaming `LocalRelation`, as Transform's fixed-shape tables
    * and the crosstabs are — is written from the driver with no Spark
    * job (Spark's `LocalTableScanExec.executeCollect` idea applied to
    * the sink): Spark's own `ParquetFileFormat.prepareWrite` →
    * `OutputWriterFactory` → one `OutputWriter`, through the path's
    * Hadoop `FileSystem`, so remote paths work too. The directory is what
    * `df.write` leaves — one `part-00000-<uuid>-c000.snappy.parquet`
    * (an empty table still gets one file with a footer) and `_SUCCESS`
    * — and the file is the one a Spark task would write: same schema,
    * nullability and footer metadata. Every other frame, and a local one
    * whose schema is not flat, named uniquely and parquet-writable,
    * takes `df.write` unchanged.
    */
  def writeParquet(tables: Map[String, DataFrame], outDir: String): Unit =
    tables.foreach { case (name, df) =>
      val path = s"$outDir/${sheetName(name)}"
      df.queryExecution.optimizedPlan match {
        case r: LocalRelation if !r.isStreaming && writableOnDriver(r.schema) =>
          writeLocalParquet(df.queryExecution.sparkSession, r, path)
        case _ => df.write.mode("overwrite").parquet(path)
      }
    }

  /** Flat, uniquely named (case-insensitively), at least one column, and
    * every type one parquet writes: the schemas whose validation the
    * driver write can skip. Anything else goes to `df.write`, which
    * raises Spark's own error for what it rejects. */
  private def writableOnDriver(schema: StructType): Boolean =
    schema.nonEmpty &&
      schema.map(_.name.toLowerCase(java.util.Locale.ROOT)).distinct.size == schema.size &&
      schema.forall(f => f.dataType match {
        case _: StructType | _: ArrayType | _: MapType => false
        case t => new ParquetFileFormat().supportDataType(t)
      })

  /** One parquet file of `rel`'s rows, written on the driver as a Spark
    * write task would, then `_SUCCESS`. The file is written under a
    * hidden name and renamed, so it appears only complete. */
  private def writeLocalParquet(session: SparkSession, rel: LocalRelation, dir: String): Unit = {
    val conf = session.sessionState.newHadoopConf()
    val out0 = new Path(dir)
    val fs = out0.getFileSystem(conf)
    val out = fs.makeQualified(out0)
    if (fs.exists(out) && !fs.delete(out, true))
      throw new java.io.IOException(s"writeParquet: cannot clear $out for overwrite")
    fs.mkdirs(out)
    val job = Job.getInstance(conf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, out)
    val factory = new ParquetFileFormat().prepareWrite(session, job, Map.empty, rel.schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("local", 0, TaskType.MAP, 0, 0))
    val file = s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val staged = new Path(out, s"_temporary-$file")
    try {
      val writer = factory.newInstance(staged.toString, rel.schema, ctx)
      try rel.data.foreach(writer.write) finally writer.close()
      if (!fs.rename(staged, new Path(out, file)))
        throw new java.io.IOException(s"writeParquet: cannot rename $staged")
    } catch {
      case e: Throwable => fs.delete(staged, false); throw e
    }
    fs.create(new Path(out, "_SUCCESS"), true).close()
    session.sharedState.cacheManager.recacheByPath(session, out, fs)
  }

  /** WET sink — emit (url, date, text) rows as WARC/1.0 "conversion"
    * records ([[Warc]] documents the format): each row renders to one
    * record string via narrow codegen'd expressions, and the text
    * writer's `lineSep = "\r\n\r\n"` supplies the record terminator —
    * fully distributed, no driver materialization. Content-Length is
    * the BODY'S UTF-8 byte count (`octet_length`, per the WARC spec).
    * Bodies that cannot roundtrip a `lineSep`-split reader fail
    * in-plan rather than producing a file that mis-splits on read:
    * [[Warc.readWet]] splits on EVERY `WARC/1.0\r\n` occurrence, so a
    * body containing that sequence mis-splits regardless of what
    * precedes it, and a body containing the record separator
    * `\r\n\r\n` is refused as well (it happens to reparse today, but
    * only because the header/body `locate` finds the earlier genuine
    * boundary — not a contract worth relying on). Neither sequence can
    * occur in genuine extracted text, which is `\n`-separated.
    *
    * `forStrictReader = true` lifts that refusal: Content-Length
    * framing makes ANY body roundtrip exactly through
    * [[Warc.readWetStrict]] (which slices bodies by declared length
    * rather than delimiter-splitting), so files written this way are
    * valid WARC but must be read with the strict reader — `readWet`
    * would mis-split them, which is precisely what its limitation note
    * documents.
    */
  def writeWet(
      df: DataFrame, outDir: String,
      urlCol: String = "url", dateCol: String = "date",
      textCol: String = "text",
      compression: Option[String] = None,
      forStrictReader: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    val body = coalesce(graft.ops.Cleaning.qcol(textCol).cast("string"), lit(""))
    val safeBody = if (forStrictReader) body else
      when(body.contains("\r\n\r\n") || body.contains("WARC/1.0\r\n"),
      raise_error(lit("writeWet: body contains the WARC record separator" +
        " \\r\\n\\r\\n or the record header WARC/1.0\\r\\n — such text" +
        " cannot roundtrip a delimiter-split reader"))).otherwise(body)
    val rec = concat(
      lit("WARC/1.0\r\n"),
      lit("WARC-Type: conversion\r\n"),
      lit("WARC-Target-URI: "), graft.ops.Cleaning.qcol(urlCol).cast("string"), lit("\r\n"),
      lit("WARC-Date: "), graft.ops.Cleaning.qcol(dateCol).cast("string"), lit("\r\n"),
      lit("Content-Type: text/plain\r\n"),
      lit("Content-Length: "), octet_length(safeBody).cast("string"), lit("\r\n"),
      lit("\r\n"),
      safeBody)
    val writer = df.select(rec.as("value"))
      .write.mode("overwrite").option("lineSep", "\r\n\r\n")
    compression.fold(writer)(c => writer.option("compression", c)).text(outDir)
  }

  /** ORC sink — one `<name>.orc` directory per table, mirroring
    * `Sources.readOrc`/`readTable` dispatch. Fully distributed
    * (no driver materialization), same scale contract as parquet.
    */
  def writeOrc(tables: Map[String, DataFrame], outDir: String): Unit =
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").orc(s"$outDir/${sheetName(name)}.orc")
    }

  /** Bucketed managed-table sink: pre-hash rows into `buckets` files per
    * partition by `bucketCols` (optionally sorted within buckets) so
    * every later equi-join or aggregation on those keys is SHUFFLE-FREE
    * — the scan's output partitioning already satisfies the join's
    * requirement. This is the 100 TB answer to "the fact table is
    * joined on the same key by every query": pay the shuffle once at
    * ingest, never again (BucketingSpec asserts the Exchange-free
    * join plan). `saveAsTable` is required — Spark's bucket metadata
    * lives in the catalog, plain parquet paths carry none.
    */
  def writeBucketed(
      df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    require(buckets > 0 && bucketCols.nonEmpty, "need buckets > 0 and at least one bucket column")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Row ceiling for the DRIVER-SIDE export sinks (Excel / .xls / JSON
    * bundle). These formats are whole-file, non-splittable dashboard
    * exports: the reference materializes them fully in pandas, and so
    * do we — but a misdirected 100 TB table must fail fast with a clear
    * message instead of OOMing the driver. Distributed exports (CSV,
    * parquet, ORC) have no cap.
    */
  val MaxDriverExportRows: Int = 1000000

  /** Bounded collect for driver-side sinks: fetches at most cap+1 rows
    * in ONE job (the limit is pushed into the scan) and fails with an
    * actionable message if the table exceeds the cap.
    */
  private[io] def collectBounded[T](
      ds: org.apache.spark.sql.Dataset[T], what: String,
      cap: Int = MaxDriverExportRows): Array[T] = {
    val rows = ds.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"$what is a driver-side whole-file export capped at $cap rows; " +
        "this table exceeds the cap — aggregate it first, or use a " +
        "distributed sink (writeCsv / writeParquet / writeOrc)")
    rows
  }

  /** S6 — JSON bundle `{table: [row-objects]}` (app.py:607-615).
    * Row objects preserve column order via toJSON (Jackson keeps field
    * order = schema order, like pandas to_dict(orient="records")).
    */
  def jsonBundle(tables: Map[String, DataFrame]): String = {
    val entries = tables.map { case (name, df) =>
      val rows = collectBounded(df.toJSON, s"jsonBundle table '$name'")
        .mkString("[", ",", "]")
      "\"" + escape(name) + "\": " + rows
    }
    entries.mkString("{\n", ",\n", "\n}")
  }

  def writeJsonBundle(tables: Map[String, DataFrame], path: String): Unit =
    Files.write(Paths.get(path), jsonBundle(tables).getBytes("UTF-8"))

  /** S5's 31-char Excel sheet-name truncation (app.py:596). */
  def sheetName(name: String): String = name.take(31)

  /** S5 — multi-sheet Excel workbook sink (app.py:592-605), one sheet per
    * result table. See `Excel.write` (self-contained xlsx writer).
    */
  def writeExcel(tables: Map[String, DataFrame], path: String): Unit =
    Excel.write(tables, path)

  /** CSV sink (small summary tables; single file per table). */
  def writeCsv(tables: Map[String, DataFrame], outDir: String): Unit =
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$outDir/${sheetName(name)}")
    }

  private def escape(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}
