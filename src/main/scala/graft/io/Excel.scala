package graft.io

import java.io.{BufferedOutputStream, FileOutputStream}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
import scala.collection.mutable
import scala.xml.XML

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Minimal self-contained XLSX support (S2 scan / S5 sink).
  *
  * The zero-egress jar set has no POI, but an .xlsx is just a zip of
  * small XMLs — and the reference's Excel surface is survey-sized
  * (one workbook of summary tables, app.py:592-605), so a driver-side
  * implementation is the scale-correct shape: the 100 TB path is
  * Parquet; Excel exists for the dashboard-export contract.
  *
  * Reader: sheet1 cells of types n (number), s (shared string),
  * str (formula result), inlineStr, b (boolean); row 1 = header
  * (pandas read_excel default). Column types are inferred like the CSV
  * reader: all-long → long, all-double → double, else string.
  * Writer: one sheet per table (31-char names, app.py:596), inline
  * strings, numbers as native cells.
  */
object Excel {

  // ---------------- reader (S2) ----------------

  def read(spark: SparkSession, path: String): DataFrame = {
    val zf = new ZipFile(path)
    try {
      def entryXml(name: String) = Option(zf.getEntry(name)).map { e =>
        XML.load(zf.getInputStream(e))
      }
      val shared: IndexedSeq[String] =
        entryXml("xl/sharedStrings.xml").map { x =>
          (x \ "si").map(si => (si \\ "t").map(_.text).mkString).toIndexedSeq
        }.getOrElse(IndexedSeq.empty)

      val sheet = entryXml("xl/worksheets/sheet1.xml")
        .getOrElse(throw new IllegalArgumentException(s"$path: no xl/worksheets/sheet1.xml"))

      def colIndex(ref: String): Int =
        ref.takeWhile(_.isLetter).foldLeft(0)((a, c) => a * 26 + (c - 'A' + 1)) - 1

      val rows: Seq[Map[Int, String]] = (sheet \ "sheetData" \ "row").map { r =>
        (r \ "c").flatMap { c =>
          val idx = colIndex((c \ "@r").text)
          val t = (c \ "@t").text
          val v: Option[String] = t match {
            case "s" => (c \ "v").headOption.map(v => shared(v.text.trim.toInt))
            case "inlineStr" => Some((c \ "is" \\ "t").map(_.text).mkString)
            case "b" => (c \ "v").headOption.map(v => if (v.text.trim == "1") "true" else "false")
            case _ => (c \ "v").headOption.map(_.text) // "n", "str", untyped
          }
          v.map(idx -> _)
        }.toMap
      }
      require(rows.nonEmpty, s"$path: empty sheet")
      fromCellRows(spark, rows, path)
    } finally zf.close()
  }

  /** Shared spreadsheet epilogue (xlsx + xls): row 1 = header, column
    * types inferred like the CSV reader (all-long → long, all-double →
    * double, else string).
    */
  private[io] def fromCellRows(
      spark: SparkSession, rows: Seq[Map[Int, String]], path: String): DataFrame = {
    require(rows.nonEmpty, s"$path: empty sheet")
    val header = rows.head
    val nCols = (rows.map(m => if (m.isEmpty) -1 else m.keys.max).max) + 1
    val names = (0 until nCols).map(i => header.getOrElse(i, s"_c$i"))
    val data = rows.tail.map(m => (0 until nCols).map(i => m.get(i).filter(_.nonEmpty).orNull))

    def allParse(p: String => Boolean) =
      (c: Int) => data.forall(r => r(c) == null || p(r(c)))
    val longOk = allParse(s => s.toLongOption.isDefined)
    val dblOk = allParse(s => s.toDoubleOption.isDefined)

    val fields = (0 until nCols).map { c =>
      val t: DataType =
        if (longOk(c)) LongType else if (dblOk(c)) DoubleType else StringType
      StructField(names(c), t, nullable = true)
    }
    val sparkRows = data.map { r =>
      Row.fromSeq((0 until nCols).map { c =>
        val s = r(c)
        if (s == null) null
        else fields(c).dataType match {
          case LongType => s.toLong
          case DoubleType => s.toDouble
          case _ => s
        }
      })
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(sparkRows.toIndexedSeq),
      StructType(fields.toIndexedSeq))
  }

  // ---------------- writer (S5) ----------------

  private def esc(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' => ""
      case c => c.toString
    }

  private def colRef(i: Int): String = {
    var n = i + 1
    val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def sheetXml(df: DataFrame): String = {
    val sb = new StringBuilder
    sb ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    sb ++= """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
    def cell(ref: String, v: Any): Unit = v match {
      case null =>
      case n: Byte => sb ++= s"""<c r="$ref"><v>$n</v></c>"""
      case n: Short => sb ++= s"""<c r="$ref"><v>$n</v></c>"""
      case n: Int => sb ++= s"""<c r="$ref"><v>$n</v></c>"""
      case n: Long => sb ++= s"""<c r="$ref"><v>$n</v></c>"""
      case n: Float => sb ++= s"""<c r="$ref"><v>$n</v></c>"""
      case n: Double => sb ++= s"""<c r="$ref"><v>$n</v></c>"""
      case b: Boolean => sb ++= s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
      case s =>
        sb ++= s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(s.toString)}</t></is></c>"""
    }
    val names = df.columns
    sb ++= s"""<row r="1">"""
    names.zipWithIndex.foreach { case (n, i) => cell(s"${colRef(i)}1", n) }
    sb ++= "</row>"
    // result tables are summary-sized (dashboard exports); the reference
    // materializes them fully too (app.py:594-597). Bounded: a full-size
    // table routed here fails fast instead of OOMing the driver.
    Sinks.collectBounded(df, s"Excel sheet")
      .zipWithIndex.foreach { case (row, ri) =>
      sb ++= s"""<row r="${ri + 2}">"""
      (0 until row.length).foreach { ci =>
        cell(s"${colRef(ci)}${ri + 2}", if (row.isNullAt(ci)) null else row.get(ci))
      }
      sb ++= "</row>"
    }
    sb ++= "</sheetData></worksheet>"
    sb.toString
  }

  /** S5 — every table as one sheet of a single workbook; sheet names
    * truncated to Excel's 31-char limit (app.py:596), de-duplicated.
    */
  def write(tables: Map[String, DataFrame], path: String): Unit = {
    val seen = mutable.Set[String]()
    val sheets = tables.toSeq.map { case (name, df) =>
      var s = Sinks.sheetName(name)
      var i = 1
      while (seen.contains(s)) { s = Sinks.sheetName(name.take(28)) + f"~$i%02d"; i += 1 }
      seen += s
      (s, df)
    }
    val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    try {
      put("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          sheets.indices.map(i =>
            s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
          "</Types>")
      put("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          "</Relationships>")
      put("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
          sheets.zipWithIndex.map { case ((n, _), i) =>
            s"""<sheet name="${esc(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
          }.mkString + "</sheets></workbook>")
      put("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          sheets.indices.map(i =>
            s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""").mkString +
          "</Relationships>")
      sheets.zipWithIndex.foreach { case ((_, df), i) =>
        put(s"xl/worksheets/sheet${i + 1}.xml", sheetXml(df))
      }
    } finally zos.close()
  }
}
