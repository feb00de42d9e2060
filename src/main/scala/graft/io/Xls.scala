package graft.io

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal self-contained legacy `.xls` (BIFF8) support — the reference
  * accepts `.xls` uploads (app.py:78-79, `pd.read_excel`), and the
  * zero-egress jar set has no POI, so this implements the two layers
  * directly:
  *
  *  1. CFB (Compound File Binary, MS-CFB): 512-byte header, FAT via the
  *     header DIFAT, directory chain, standard-sector streams, and the
  *     root ministream + miniFAT for streams under the 4096-byte cutoff.
  *  2. BIFF8 records (MS-XLS) inside the `Workbook` stream: SST /
  *     LABELSST shared strings, NUMBER, RK / MULRK packed numbers,
  *     LABEL, BOOLERR, the first BOUNDSHEET's cell table, EOF framing.
  *
  * Scope matches the reference's usage: first worksheet, row 1 = header,
  * CSV-style type inference (see Excel.fromCellRows). Not supported
  * (loud errors, not silent corruption): BIFF5 and earlier, encrypted
  * workbooks (FILEPASS), SST records spanning CONTINUE blocks (only hit
  * by multi-thousand-string workbooks — far beyond the survey-sized
  * Excel contract shared with the xlsx reader).
  *
  * The writer exists so the reader is roundtrip-testable offline and as
  * an S5-family sink; like the xlsx writer it is driver-side by design —
  * Excel files are the dashboard-export contract, Parquet is the 100 TB
  * path.
  */
object Xls {

  private val EndOfChain = 0xFFFFFFFE
  private val FreeSect = 0xFFFFFFFF
  private val FatSect = 0xFFFFFFFD

  // ---------------- CFB reader ----------------

  private def u16(b: ByteBuffer, off: Int): Int = b.getShort(off) & 0xFFFF
  private def i32(b: ByteBuffer, off: Int): Int = b.getInt(off)

  /** Reads the named stream from a CFB container (standard or mini). */
  private def cfbStream(bytes: Array[Byte], wanted: Set[String]): Array[Byte] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 512 &&
      buf.getLong(0) == 0xE11AB1A1E011CFD0L, "not a CFB (OLE2) file")
    val sectorShift = u16(buf, 30)
    val secSize = 1 << sectorShift
    val miniShift = u16(buf, 32)
    val miniSize = 1 << miniShift
    val numFat = i32(buf, 44)
    val firstDir = i32(buf, 48)
    val miniCutoff = i32(buf, 56)
    val firstMiniFat = i32(buf, 60)
    val numMiniFat = i32(buf, 64)
    val firstDifat = i32(buf, 68)
    val numDifat = i32(buf, 72)

    def sectorOff(sid: Int): Int = 512 + sid * secSize

    // FAT sector ids: 109 in the header, remainder chained through DIFAT
    val fatSids = mutable.ArrayBuffer[Int]()
    for (i <- 0 until 109) {
      val sid = i32(buf, 76 + i * 4)
      if (sid != FreeSect && fatSids.size < numFat) fatSids += sid
    }
    var difatSid = firstDifat
    var difatSeen = 0
    while (difatSid != EndOfChain && difatSid != FreeSect && difatSeen < numDifat) {
      val off = sectorOff(difatSid)
      val perSector = secSize / 4 - 1
      for (i <- 0 until perSector) {
        val sid = i32(buf, off + i * 4)
        if (sid != FreeSect && fatSids.size < numFat) fatSids += sid
      }
      difatSid = i32(buf, off + perSector * 4)
      difatSeen += 1
    }

    val entriesPerFat = secSize / 4
    def fatAt(sid: Int): Int = {
      val fs = fatSids(sid / entriesPerFat)
      i32(buf, sectorOff(fs) + (sid % entriesPerFat) * 4)
    }

    def readChain(start: Int, size: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var sid = start
      var guard = 0
      while (sid != EndOfChain && out.size < size && guard <= bytes.length / secSize) {
        out.write(bytes, sectorOff(sid), secSize)
        sid = fatAt(sid)
        guard += 1
      }
      out.toByteArray.take(size.toInt)
    }

    // directory: 128-byte entries chained from firstDir
    val dirBytes = readChain(firstDir, Long.MaxValue / 2 min (bytes.length.toLong))
    case class Entry(name: String, objType: Int, startSect: Int, size: Long)
    val entries = (0 until dirBytes.length / 128).map { i =>
      val off = i * 128
      val db = ByteBuffer.wrap(dirBytes, off, 128).order(ByteOrder.LITTLE_ENDIAN)
      val nameLen = db.getShort(off + 64) & 0xFFFF // bytes incl. null
      val name =
        if (nameLen >= 2)
          new String(dirBytes, off, nameLen - 2, java.nio.charset.StandardCharsets.UTF_16LE)
        else ""
      Entry(name, dirBytes(off + 66) & 0xFF, db.getInt(off + 116),
        db.getInt(off + 120).toLong & 0xFFFFFFFFL)
    }
    val root = entries.find(_.objType == 5)
      .getOrElse(throw new IllegalArgumentException("CFB: no root entry"))
    val target = entries.find(e => e.objType == 2 && wanted.contains(e.name))
      .getOrElse(throw new IllegalArgumentException(
        s"CFB: no ${wanted.mkString("/")} stream (entries: ${entries.filter(_.objType == 2).map(_.name).mkString(", ")})"))

    if (target.size >= miniCutoff) readChain(target.startSect, target.size)
    else {
      // ministream: 64-byte sectors inside the root entry's chain,
      // addressed through the miniFAT
      val ministream = readChain(root.startSect, root.size)
      val miniFat = readChain(firstMiniFat, numMiniFat.toLong * secSize)
      val mfBuf = ByteBuffer.wrap(miniFat).order(ByteOrder.LITTLE_ENDIAN)
      val out = new java.io.ByteArrayOutputStream()
      var sid = target.startSect
      var guard = 0
      while (sid != EndOfChain && out.size < target.size && guard <= miniFat.length / 4) {
        out.write(ministream, sid * miniSize, miniSize min (ministream.length - sid * miniSize))
        sid = mfBuf.getInt(sid * 4)
        guard += 1
      }
      out.toByteArray.take(target.size.toInt)
    }
  }

  // ---------------- BIFF8 reader ----------------

  /** XLUnicodeString at `off`: (decoded string, bytes consumed).
    * cch(2) grbit(1) [rich runs(2)] [ext size(4)] chars [runs] [ext]. */
  private def readXlString(b: Array[Byte], off: Int): (String, Int) = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val cch = bb.getShort(off) & 0xFFFF
    val grbit = b(off + 2) & 0xFF
    var p = off + 3
    val runs = if ((grbit & 0x08) != 0) { val r = bb.getShort(p) & 0xFFFF; p += 2; r } else 0
    val ext = if ((grbit & 0x04) != 0) { val e = bb.getInt(p); p += 4; e } else 0
    val wide = (grbit & 0x01) != 0
    val s =
      if (wide) {
        val str = new String(b, p, cch * 2, java.nio.charset.StandardCharsets.UTF_16LE)
        p += cch * 2; str
      } else {
        // "compressed": high bytes of UTF-16 dropped → Latin-1
        val str = new String(b, p, cch, java.nio.charset.StandardCharsets.ISO_8859_1)
        p += cch; str
      }
    p += runs * 4 + ext
    (s, p - off)
  }

  /** RK value: 30-bit payload, bit0 = /100, bit1 = int-vs-float. */
  private def decodeRk(rk: Int): String = {
    val div100 = (rk & 0x01) != 0
    val asInt = (rk & 0x02) != 0
    val v: Double =
      if (asInt) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    val out = if (div100) v / 100.0 else v
    numStr(out)
  }

  /** Integral doubles print like longs (pandas-style "5" not "5.0") —
    * keeps the shared type inference identical across xlsx and xls. */
  private def numStr(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

  def read(spark: SparkSession, path: String): DataFrame = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val wb = cfbStream(bytes, Set("Workbook", "Book"))
    val bb = ByteBuffer.wrap(wb).order(ByteOrder.LITTLE_ENDIAN)

    // pass 1 (workbook globals): SST strings + first BOUNDSHEET offset
    val sst = mutable.ArrayBuffer[String]()
    var firstSheetOff = -1
    var p = 0
    var inGlobals = true
    while (inGlobals && p + 4 <= wb.length) {
      val id = u16(bb, p); val len = u16(bb, p + 2)
      id match {
        case 0x002F => throw new IllegalArgumentException(s"$path: encrypted workbook (FILEPASS)")
        case 0x00FC => // SST: cstTotal(4) cstUnique(4) strings...
          require(p + 4 + len <= wb.length, s"$path: truncated SST")
          val unique = bb.getInt(p + 8)
          // body segments: the SST record past its 8-byte header, then
          // any CONTINUE (0x003C) records that follow it. Strings that
          // start exactly at a segment boundary are supported (what this
          // writer emits); a string split MID-WAY re-specifies its
          // compression flag per spec and is rejected loudly.
          var segs = List((p + 12, p + 4 + len))
          var np = p + 4 + len
          while (np + 4 <= wb.length && u16(bb, np) == 0x003C) {
            val clen = u16(bb, np + 2)
            segs = segs :+ ((np + 4, np + 4 + clen))
            np += 4 + clen
          }
          var rem = segs
          var q = rem.head._1
          var i = 0
          while (i < unique) {
            if (q >= rem.head._2) {
              rem = rem.tail
              require(rem.nonEmpty, s"$path: SST ends before $unique strings")
              q = rem.head._1
            }
            val (s, used) = readXlString(wb, q)
            require(q + used <= rem.head._2,
              s"$path: SST string splits across a CONTINUE record — not supported by this minimal reader")
            sst += s; q += used; i += 1
          }
        case 0x0085 => // BOUNDSHEET: lbPlyPos(4) grbit(2) name
          if (firstSheetOff < 0) firstSheetOff = bb.getInt(p + 4)
        case 0x000A => inGlobals = false
        case _ =>
      }
      p += 4 + len
    }
    require(firstSheetOff >= 0 && firstSheetOff < wb.length, s"$path: no BOUNDSHEET record")

    // pass 2 (first sheet substream): cell records until EOF
    val cells = mutable.Map[(Int, Int), String]()
    p = firstSheetOff
    var inSheet = true
    var sawBof = false
    while (inSheet && p + 4 <= wb.length) {
      val id = u16(bb, p); val len = u16(bb, p + 2)
      id match {
        case 0x0809 =>
          require(!sawBof, s"$path: nested BOF in sheet substream")
          sawBof = true
          val vers = u16(bb, p + 4)
          require(vers == 0x0600, f"$path: BIFF version 0x$vers%04X — only BIFF8 (.xls from Excel 97+) is supported")
        case 0x0203 => // NUMBER: rw col ixfe num(8)
          cells((u16(bb, p + 4), u16(bb, p + 6))) = numStr(bb.getDouble(p + 10))
        case 0x027E => // RK: rw col ixfe rk(4)
          cells((u16(bb, p + 4), u16(bb, p + 6))) = decodeRk(bb.getInt(p + 10))
        case 0x00BD => // MULRK: rw colFirst (ixfe rk)* colLast
          val rw = u16(bb, p + 4); val c0 = u16(bb, p + 6)
          val n = (len - 6) / 6
          for (i <- 0 until n)
            cells((rw, c0 + i)) = decodeRk(bb.getInt(p + 8 + i * 6 + 2))
        case 0x00FD => // LABELSST: rw col ixfe isst(4)
          cells((u16(bb, p + 4), u16(bb, p + 6))) = sst(bb.getInt(p + 10))
        case 0x0204 => // LABEL (pre-SST string cell): rw col ixfe str
          cells((u16(bb, p + 4), u16(bb, p + 6))) = readXlString(wb, p + 10)._1
        case 0x0205 => // BOOLERR: rw col ixfe val fError
          if ((wb(p + 11) & 0xFF) == 0)
            cells((u16(bb, p + 4), u16(bb, p + 6))) = if (wb(p + 10) != 0) "true" else "false"
        case 0x000A => inSheet = false
        case _ =>
      }
      p += 4 + len
    }

    val maxRow = if (cells.isEmpty) -1 else cells.keys.map(_._1).max
    val rows: Seq[Map[Int, String]] =
      (0 to maxRow).map(r => cells.collect { case ((`r`, c), v) => c -> v }.toMap)
    Excel.fromCellRows(spark, rows, path)
  }

  // ---------------- BIFF8 + CFB writer ----------------

  private class Rec(val id: Int) {
    val body = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Rec = { body.write(v & 0xFF); body.write((v >> 8) & 0xFF); this }
    def i32(v: Int): Rec = { u16(v & 0xFFFF); u16((v >>> 16) & 0xFFFF); this }
    def f64(v: Double): Rec = {
      val bits = java.lang.Double.doubleToLongBits(v)
      i32((bits & 0xFFFFFFFFL).toInt); i32((bits >>> 32).toInt)
    }
    def bytes(b: Array[Byte]): Rec = { body.write(b); this }
    def emit(out: java.io.ByteArrayOutputStream): Unit = {
      val b = body.toByteArray
      require(b.length <= 8224, f"BIFF record 0x$id%04X too long (${b.length}) — needs CONTINUE")
      out.write(id & 0xFF); out.write((id >> 8) & 0xFF)
      out.write(b.length & 0xFF); out.write((b.length >> 8) & 0xFF)
      out.write(b)
    }
  }

  private def xlStringBytes(s: String): Array[Byte] = {
    val wide = s.exists(_ > 0xFF)
    val out = new java.io.ByteArrayOutputStream()
    out.write(s.length & 0xFF); out.write((s.length >> 8) & 0xFF)
    out.write(if (wide) 1 else 0)
    val enc = if (wide) s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
              else s.map(_.toByte).toArray
    out.write(enc)
    out.toByteArray
  }

  /** One-sheet BIFF8 workbook from string/number cell rows. */
  private def biffStream(name: String, header: Seq[String], data: Seq[Seq[Any]]): Array[Byte] = {
    // collect shared strings (header + string cells), in first-use order
    val strings = mutable.LinkedHashMap[String, Int]()
    var refs = 0
    def intern(s: String): Int = { refs += 1; strings.getOrElseUpdate(s, strings.size) }
    val headerIdx = header.map(intern)
    val cellVals: Seq[Seq[Either[Int, Double]]] = data.map(_.map {
      case null => null
      case n: Byte => Right(n.toDouble)
      case n: Short => Right(n.toDouble)
      case n: Int => Right(n.toDouble)
      // Excel NUMBER cells are IEEE doubles — a long with |v| >= 2^53
      // would silently lose low bits (and numStr would then render it
      // in scientific notation, flipping the inferred column type on
      // read-back). 64-bit ids / hash fingerprints exported to .xls
      // survive as SST strings instead: the only lossless
      // representation the format has.
      // (explicit two-sided test: Long.MinValue.abs is still negative)
      case n: Long if n >= (1L << 53) || n <= -(1L << 53) => Left(intern(n.toString))
      case n: Long => Right(n.toDouble)
      case n: Float => Right(n.toDouble)
      case n: Double => Right(n)
      case b: Boolean => Left(intern(if (b) "true" else "false"))
      case v => Left(intern(v.toString))
    })

    val sheet = new java.io.ByteArrayOutputStream()
    new Rec(0x0809).u16(0x0600).u16(0x0010).u16(0x0DBB).u16(0x07CC).i32(0).i32(0).emit(sheet)
    def cellRow(r: Int, vals: Seq[Either[Int, Double]]): Unit =
      vals.zipWithIndex.foreach {
        case (null, _) =>
        case (Left(isst), c) => new Rec(0x00FD).u16(r).u16(c).u16(0).i32(isst).emit(sheet)
        case (Right(d), c) => new Rec(0x0203).u16(r).u16(c).u16(0).f64(d).emit(sheet)
      }
    cellRow(0, headerIdx.map(Left(_)))
    cellVals.zipWithIndex.foreach { case (vals, i) => cellRow(i + 1, vals) }
    new Rec(0x000A).emit(sheet)
    val sheetBytes = sheet.toByteArray

    // globals: BOF, SST, BOUNDSHEET (needs its own size to fix the sheet
    // offset — assemble with a placeholder first)
    def globals(sheetOff: Int): Array[Byte] = {
      val g = new java.io.ByteArrayOutputStream()
      new Rec(0x0809).u16(0x0600).u16(0x0005).u16(0x0DBB).u16(0x07CC).i32(0).i32(0).emit(g)
      // SST with CONTINUE overflow: strings never split across records
      // (each CONTINUE starts at a string boundary — the subset the
      // reader supports)
      var sst = new Rec(0x00FC).i32(refs).i32(strings.size)
      strings.keys.foreach { s =>
        val sb = xlStringBytes(s)
        require(sb.length <= 8220, s"single SST string too long (${sb.length} bytes)")
        if (sst.body.size + sb.length > 8224) { sst.emit(g); sst = new Rec(0x003C) }
        sst.bytes(sb)
      }
      sst.emit(g)
      val bs = new Rec(0x0085).i32(sheetOff).u16(0)
      val nm = name.take(31)
      bs.body.write(nm.length); bs.body.write(0) // compressed name
      bs.bytes(nm.map(_.toByte).toArray)
      bs.emit(g)
      new Rec(0x000A).emit(g)
      g.toByteArray
    }
    val size0 = globals(0).length
    val g = globals(size0) // BOUNDSHEET offset is self-referentially stable
    require(g.length == size0, "globals size changed with offset fixup")
    g ++ sheetBytes
  }

  private def writeCfb(path: String, streamName: String, stream: Array[Byte]): Unit = {
    val secSize = 512; val miniSize = 64; val cutoff = 4096
    val useMini = stream.length < cutoff
    val out = new java.io.ByteArrayOutputStream()

    // layout: [0]=dir, [1]=miniFAT (if mini), [2..]=payload, [last]=FAT
    val nMini = if (useMini) (stream.length + miniSize - 1) / miniSize else 0
    val miniBytes = nMini * miniSize
    val payloadLen = if (useMini) miniBytes else stream.length
    val nPayload = (payloadLen + secSize - 1) / secSize max (if (useMini) 1 else 0)
    val payloadStart = if (useMini) 2 else 1
    val fatSid = payloadStart + nPayload
    val totalSectors = fatSid + 1
    require(totalSectors <= secSize / 4, s"workbook too large for single-FAT writer ($totalSectors sectors)")

    // header
    val h = ByteBuffer.allocate(512).order(ByteOrder.LITTLE_ENDIAN)
    h.putLong(0, 0xE11AB1A1E011CFD0L)
    h.putShort(24, 0x003E.toShort); h.putShort(26, 0x0003.toShort)
    h.putShort(28, 0xFFFE.toShort)
    h.putShort(30, 9.toShort); h.putShort(32, 6.toShort)
    h.putInt(44, 1)            // one FAT sector
    h.putInt(48, 0)            // first dir sector
    h.putInt(56, cutoff)
    h.putInt(60, if (useMini) 1 else EndOfChain) // first miniFAT sector
    h.putInt(64, if (useMini) 1 else 0)          // miniFAT sector count
    h.putInt(68, EndOfChain); h.putInt(72, 0)    // no DIFAT sectors
    h.putInt(76, fatSid)
    for (i <- 1 until 109) h.putInt(76 + i * 4, FreeSect)
    out.write(h.array())

    // directory sector: Root + stream + 2 free
    val dir = ByteBuffer.allocate(secSize).order(ByteOrder.LITTLE_ENDIAN)
    def dirEntry(idx: Int, name: String, objType: Int, child: Int, start: Int, size: Int): Unit = {
      val off = idx * 128
      val nameBytes = name.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      dir.position(off); dir.put(nameBytes, 0, nameBytes.length min 62)
      dir.putShort(off + 64, (nameBytes.length + 2).toShort)
      dir.put(off + 66, objType.toByte)
      dir.put(off + 67, 1.toByte) // black
      dir.putInt(off + 68, -1); dir.putInt(off + 72, -1); dir.putInt(off + 76, child)
      dir.putInt(off + 116, start)
      dir.putInt(off + 120, size)
    }
    dirEntry(0, "Root Entry", 5, 1,
      if (useMini) payloadStart else EndOfChain, if (useMini) miniBytes else 0)
    dirEntry(1, streamName, 2, -1, if (useMini) 0 else payloadStart, stream.length)
    for (i <- 2 to 3) { dir.putInt(i * 128 + 68, -1); dir.putInt(i * 128 + 72, -1); dir.putInt(i * 128 + 76, -1) }
    out.write(dir.array())

    // miniFAT sector: chain of nMini minisectors
    if (useMini) {
      val mf = ByteBuffer.allocate(secSize).order(ByteOrder.LITTLE_ENDIAN)
      for (i <- 0 until secSize / 4) mf.putInt(i * 4, FreeSect)
      for (i <- 0 until nMini) mf.putInt(i * 4, if (i == nMini - 1) EndOfChain else i + 1)
      out.write(mf.array())
    }

    // payload sectors (ministream or direct stream), zero-padded
    val payload = java.util.Arrays.copyOf(stream, nPayload * secSize)
    out.write(payload)

    // FAT sector
    val fat = ByteBuffer.allocate(secSize).order(ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until secSize / 4) fat.putInt(i * 4, FreeSect)
    fat.putInt(0 * 4, EndOfChain)                       // dir
    if (useMini) fat.putInt(1 * 4, EndOfChain)          // miniFAT
    for (i <- 0 until nPayload) {
      val sid = payloadStart + i
      fat.putInt(sid * 4, if (i == nPayload - 1) EndOfChain else sid + 1)
    }
    fat.putInt(fatSid * 4, FatSect)
    out.write(fat.array())

    val fos = new BufferedOutputStream(new FileOutputStream(path))
    try { fos.write(out.toByteArray) } finally fos.close()
  }

  /** S5-family sink: first table → one BIFF8 worksheet (driver-side,
    * summary-sized — same contract as Excel.write). */
  def write(name: String, df: DataFrame, path: String): Unit = {
    val rows = Sinks.collectBounded(df, ".xls workbook").map(r =>
      (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i)))
    writeCfb(path, "Workbook", biffStream(Sinks.sheetName(name), df.columns.toSeq, rows.toSeq))
  }
}
