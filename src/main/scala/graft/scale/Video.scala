package graft.scale

import org.apache.spark.sql.{DataFrame, Dataset}

/** REAL video-container decode — RIFF/AVI with raw DIB (uncompressed
  * BGR24) frames, completing the modality triple beside the round-11
  * image path (javax.imageio) and the round-13 audio path
  * (RIFF/PCM16): like audio, an uncompressed-frame AVI is EXACT byte
  * arithmetic (the RIFF chunk walk + BITMAPINFOHEADER are pure
  * integers, frame payloads are literal pixel bytes), so the real
  * container decode is ORACLE-gated end to end (`x_mm_video_*`) —
  * [[aviPayload]] builds deterministic videos from document text and
  * DuckDB replays every luma from the same bytes. MJPEG is the one
  * COMPRESSED codec the JDK can decode (javax.imageio JPEG): [[parseAvi]]
  * accepts `MJPG` frames and decodes each chunk through ImageIO into
  * the same bottom-up BGR24 layout, so every downstream stage
  * (features, fingerprint, frame bridge) runs on compressed video
  * unchanged. JPEG bytes are encoder-dependent, so the MJPEG oracle
  * key gates container-level facts only (frame counts, geometry) and
  * the pixel contract is spec-pinned ([[graft.scale.VideoSpec]]) —
  * the image-path convention. Other codecs stay in-band undecodable.
  *
  * All stages are the [[Multimodal]] mapPartitions batch shape:
  * partition-local parse, constant memory per batch, undecodable
  * payloads in-band.
  */
object Video {

  /** Typed metadata produced by the video decode stage. `n_frames` is
    * COUNTED from the movi chunk list, not trusted from the header
    * (a lying dwTotalFrames is the container analogue of the image
    * decompression bomb). */
  case class VideoMeta(
      doc_id: Long,
      n_bytes: Long,
      format: String,
      width: Int,
      height: Int,
      n_frames: Long,
      us_per_frame: Long,
      checksum: Long)

  /** Frame-payload cap (64 MB/frame) and frame-count cap — defensive
    * against lying chunk sizes before any allocation. */
  private val MaxFrameBytes: Long = 64L * 1024L * 1024L
  private val MaxFrames: Int = 1 << 20

  // fixture geometry: 8x6 BGR24 -> 24-byte row stride (already
  // 4-aligned, no pad bytes), 144 data bytes per frame
  val FixtureW = 8
  val FixtureH = 6
  val FixtureFrameBytes: Int = FixtureW * FixtureH * 3
  val FixtureMaxFrames = 8

  private def le32(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = (v & 0xff).toByte
    out(off + 1) = ((v >> 8) & 0xff).toByte
    out(off + 2) = ((v >> 16) & 0xff).toByte
    out(off + 3) = ((v >> 24) & 0xff).toByte
  }
  private def le16(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = (v & 0xff).toByte
    out(off + 1) = ((v >> 8) & 0xff).toByte
  }
  private def tag(out: Array[Byte], off: Int, s: String): Unit = {
    var i = 0
    while (i < 4) { out(off + i) = s.charAt(i).toByte; i += 1 }
  }

  /** Minimal standard AVI around raw-DIB frames: RIFF('AVI ') >
    * LIST(hdrl){ avih, LIST(strl){ strh('vids'/'DIB '), strf(BMIH) } }
    * > LIST(movi){ '00db'... }. Every field a real AVI parser reads is
    * populated; total size = 224 + 152·frames at the fixture geometry
    * (spec-pinned). Frame byte arrays must all be w·h·3 long (rows
    * 4-aligned by the caller's choice of w). */
  private[scale] def aviBytes(
      frames: Seq[Array[Byte]], w: Int, h: Int, usPerFrame: Int): Array[Byte] = {
    require(frames.nonEmpty, "aviBytes: need at least one frame")
    require((3 * w) % 4 == 0, s"aviBytes: 3*w must be 4-aligned, got w=$w")
    val fb = w * h * 3
    require(frames.forall(_.length == fb), s"aviBytes: frames must be $fb bytes")
    val nF = frames.length
    val strfLen = 40
    val strhLen = 56
    val avihLen = 56
    val strlLen = 4 + (8 + strhLen) + (8 + strfLen)
    val hdrlLen = 4 + (8 + avihLen) + (8 + strlLen)
    val moviLen = 4 + nF * (8 + fb)
    val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen)
    val out = new Array[Byte](8 + riffLen)
    var p = 0
    tag(out, p, "RIFF"); le32(out, p + 4, riffLen); tag(out, p + 8, "AVI "); p += 12
    tag(out, p, "LIST"); le32(out, p + 4, hdrlLen); tag(out, p + 8, "hdrl"); p += 12
    tag(out, p, "avih"); le32(out, p + 4, avihLen); p += 8
    le32(out, p, usPerFrame)            // dwMicroSecPerFrame
    le32(out, p + 4, fb * 1000000 / math.max(1, usPerFrame)) // dwMaxBytesPerSec
    le32(out, p + 16, nF)               // dwTotalFrames
    le32(out, p + 24, 1)                // dwStreams
    le32(out, p + 28, fb)               // dwSuggestedBufferSize
    le32(out, p + 32, w); le32(out, p + 36, h)
    p += avihLen
    tag(out, p, "LIST"); le32(out, p + 4, strlLen); tag(out, p + 8, "strl"); p += 12
    tag(out, p, "strh"); le32(out, p + 4, strhLen); p += 8
    tag(out, p, "vids"); tag(out, p + 4, "DIB ")
    le32(out, p + 20, usPerFrame)       // dwScale
    le32(out, p + 24, 1000000)          // dwRate (fps = rate/scale)
    le32(out, p + 32, nF)               // dwLength
    le32(out, p + 36, fb)               // dwSuggestedBufferSize
    p += strhLen
    tag(out, p, "strf"); le32(out, p + 4, strfLen); p += 8
    le32(out, p, 40)                    // biSize
    le32(out, p + 4, w); le32(out, p + 8, h)
    le16(out, p + 12, 1)                // biPlanes
    le16(out, p + 14, 24)               // biBitCount
    le32(out, p + 20, fb)               // biSizeImage
    p += strfLen
    tag(out, p, "LIST"); le32(out, p + 4, moviLen); tag(out, p + 8, "movi"); p += 12
    frames.foreach { f =>
      tag(out, p, "00db"); le32(out, p + 4, fb); p += 8
      System.arraycopy(f, 0, out, p, fb); p += fb
    }
    out
  }

  /** Build a REAL raw-DIB AVI payload from a string column's UTF-8
    * bytes — the video analogue of [[Multimodal.wavPayload]]: frame f
    * is the 144-byte slice of the text at offset f·144, zero-padded
    * past the end; frames = min(ceil(n/144), 8), at least 1 (an empty
    * text is one black frame). Deterministic from the text, so every
    * downstream REAL-decode stage is byte-replayable by the oracle.
    * Emits (idCol, payloadCol).
    */
  def aviPayload(df: DataFrame, idCol: String, srcCol: String,
      usPerFrame: Int = 40000, payloadCol: String = "payload"): DataFrame = {
    require(usPerFrame > 0, "aviPayload: usPerFrame must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"),
        graft.ops.Cleaning.qcol(srcCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, s) =>
          val data = if (s == null) Array.emptyByteArray
            else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val nF = math.max(1, math.min(FixtureMaxFrames,
            (data.length + FixtureFrameBytes - 1) / FixtureFrameBytes))
          val frames = (0 until nF).map { f =>
            val frame = new Array[Byte](FixtureFrameBytes)
            val from = f * FixtureFrameBytes
            val n = math.max(0, math.min(FixtureFrameBytes, data.length - from))
            if (n > 0) System.arraycopy(data, from, frame, 0, n)
            frame
          }
          (id, aviBytes(frames, FixtureW, FixtureH, usPerFrame))
        }
      }
      .toDF(idCol, payloadCol)
  }

  /** biCompression little-endian value of the fourcc 'MJPG'. */
  private val FourccMjpg = 0x47504A4DL

  /** AVI container around COMPRESSED frames (variable chunk sizes,
    * '00dc' chunks, explicit fourcc/biCompression) — the MJPEG mux.
    * Same RIFF skeleton as [[aviBytes]]; kept separate so the raw-DIB
    * path's byte-exact size contract (224 + 152·frames) stays pinned. */
  private[scale] def aviBytesWith(
      frames: Seq[Array[Byte]], w: Int, h: Int, usPerFrame: Int,
      fourcc: String, biCompression: Int): Array[Byte] = {
    require(frames.nonEmpty, "aviBytesWith: need at least one frame")
    val nF = frames.length
    val maxF = frames.map(_.length).max
    val strfLen = 40
    val strhLen = 56
    val avihLen = 56
    val strlLen = 4 + (8 + strhLen) + (8 + strfLen)
    val hdrlLen = 4 + (8 + avihLen) + (8 + strlLen)
    val moviLen = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
    val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen)
    val out = new Array[Byte](8 + riffLen)
    var p = 0
    tag(out, p, "RIFF"); le32(out, p + 4, riffLen); tag(out, p + 8, "AVI "); p += 12
    tag(out, p, "LIST"); le32(out, p + 4, hdrlLen); tag(out, p + 8, "hdrl"); p += 12
    tag(out, p, "avih"); le32(out, p + 4, avihLen); p += 8
    le32(out, p, usPerFrame)
    le32(out, p + 4, maxF * 1000000 / math.max(1, usPerFrame))
    le32(out, p + 16, nF)
    le32(out, p + 24, 1)
    le32(out, p + 28, maxF)
    le32(out, p + 32, w); le32(out, p + 36, h)
    p += avihLen
    tag(out, p, "LIST"); le32(out, p + 4, strlLen); tag(out, p + 8, "strl"); p += 12
    tag(out, p, "strh"); le32(out, p + 4, strhLen); p += 8
    tag(out, p, "vids"); tag(out, p + 4, fourcc)
    le32(out, p + 20, usPerFrame)
    le32(out, p + 24, 1000000)
    le32(out, p + 32, nF)
    le32(out, p + 36, maxF)
    p += strhLen
    tag(out, p, "strf"); le32(out, p + 4, strfLen); p += 8
    le32(out, p, 40)
    le32(out, p + 4, w); le32(out, p + 8, h)
    le16(out, p + 12, 1)
    le16(out, p + 14, 24)
    le32(out, p + 16, biCompression)
    le32(out, p + 20, maxF)
    p += strfLen
    tag(out, p, "LIST"); le32(out, p + 4, moviLen); tag(out, p + 8, "movi"); p += 12
    frames.foreach { f =>
      tag(out, p, "00dc"); le32(out, p + 4, f.length); p += 8
      System.arraycopy(f, 0, out, p, f.length); p += f.length
      if ((f.length & 1) == 1) p += 1 // chunks pad to even
    }
    out
  }

  /** Build an MJPEG AVI payload from a string column — same
    * deterministic text→pixels mapping as [[aviPayload]] (frame f =
    * the 144-byte slice at offset f·144, zero-padded), but each frame
    * is JPEG-ENCODED through javax.imageio before muxing with the
    * 'MJPG' fourcc. The JPEG bytes (and thus n_bytes) are
    * encoder-version-dependent — container facts (geometry, frame
    * count, timing) stay oracle-replayable; pixels are spec-gated.
    * One ImageWriter per PARTITION, not per frame: writer construction
    * dominates tiny-frame encode cost (the AudioSystem per-row
    * constant, round-13). */
  def aviMjpegPayload(df: DataFrame, idCol: String, srcCol: String,
      usPerFrame: Int = 40000, payloadCol: String = "payload"): DataFrame = {
    require(usPerFrame > 0, "aviMjpegPayload: usPerFrame must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"),
        graft.ops.Cleaning.qcol(srcCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
        val out = it.map { case (id, s) =>
          val data = if (s == null) Array.emptyByteArray
            else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val nF = math.max(1, math.min(FixtureMaxFrames,
            (data.length + FixtureFrameBytes - 1) / FixtureFrameBytes))
          val jpegs = (0 until nF).map { f =>
            val frame = new Array[Byte](FixtureFrameBytes)
            val from = f * FixtureFrameBytes
            val n = math.max(0, math.min(FixtureFrameBytes, data.length - from))
            if (n > 0) System.arraycopy(data, from, frame, 0, n)
            val img = new java.awt.image.BufferedImage(
              FixtureW, FixtureH, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < FixtureH) {
              var x = 0
              while (x < FixtureW) {
                val off = (FixtureH - 1 - y) * (3 * FixtureW) + x * 3
                val b = java.lang.Byte.toUnsignedInt(frame(off))
                val g = java.lang.Byte.toUnsignedInt(frame(off + 1))
                val r = java.lang.Byte.toUnsignedInt(frame(off + 2))
                img.setRGB(x, y, (r << 16) | (g << 8) | b)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
            writer.setOutput(ios)
            writer.write(null, new javax.imageio.IIOImage(img, null, null), null)
            ios.close()
            bos.toByteArray
          }
          (id, aviBytesWith(jpegs, FixtureW, FixtureH, usPerFrame,
            "MJPG", FourccMjpg.toInt))
        }
        out ++ { writer.dispose(); Iterator.empty }
      }
      .toDF(idCol, payloadCol)
  }

  /** Decode one BufferedImage into the bottom-up BGR24 row-padded
    * layout raw-DIB frames use — so an MJPEG frame and its raw-DIB
    * remux flow through [[lumaAt]]/fingerprints with the same pixel
    * ORDER (window fingerprints are order-sensitive). */
  private def imageToDib(img: java.awt.image.BufferedImage, w: Int, h: Int): Array[Byte] = {
    val stride = ((3 * w + 3) / 4) * 4
    val out = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val off = (h - 1 - y) * stride + x * 3 // DIB rows are bottom-up
        out(off) = (rgb & 0xff).toByte              // b
        out(off + 1) = ((rgb >> 8) & 0xff).toByte   // g
        out(off + 2) = ((rgb >> 16) & 0xff).toByte  // r
        x += 1
      }
      y += 1
    }
    out
  }

  /** Parse a RIFF/AVI: Some((w, h, usPerFrame, frames, codec)) where
    * each frame is its DECODED pixel byte array (bottom-up BGR24) and
    * codec is "dib" or "mjpg"; None for anything else (kept in-band by
    * callers). Raw-DIB chunks are literal pixel bytes; MJPG chunks
    * decode through javax.imageio (and must decode to the declared
    * geometry). Chunk sizes are validated against the payload before
    * any allocation (the lying-header guard). */
  private[scale] def parseAvi(
      bytes: Array[Byte]): Option[(Int, Int, Long, Seq[Array[Byte]], String)] = {
    if (bytes == null || bytes.length < 24) return None
    def u8(i: Int) = java.lang.Byte.toUnsignedInt(bytes(i))
    def le32At(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def le16At(i: Int) = u8(i) | (u8(i + 1) << 8)
    def tagAt(i: Int, s: String) =
      i + 4 <= bytes.length && s.indices.forall(k => bytes(i + k) == s.charAt(k).toByte)
    if (!tagAt(0, "RIFF") || !tagAt(8, "AVI ")) return None
    var w = -1; var h = -1; var bits = -1; var compression = -1L
    var usPerFrame = -1L
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    // walk chunks; descend into LIST bodies (hdrl/strl/movi)
    def walk(from: Long, until: Long): Boolean = {
      var pos = from
      while (pos + 8 <= until) {
        val clen = le32At((pos + 4).toInt)
        val body = pos + 8
        if (clen < 0 || body + clen > bytes.length) return false
        if (tagAt(pos.toInt, "LIST")) {
          if (!walk(body + 4, body + clen)) return false
        } else if (tagAt(pos.toInt, "avih")) {
          if (clen >= 40) {
            usPerFrame = le32At(body.toInt)
          }
        } else if (tagAt(pos.toInt, "strf")) {
          if (clen >= 24) {
            w = le32At((body + 4).toInt).toInt
            h = le32At((body + 8).toInt).toInt
            bits = le16At((body + 14).toInt)
            compression = le32At((body + 16).toInt)
          }
        } else if (tagAt(pos.toInt, "00db") || tagAt(pos.toInt, "00dc")) {
          if (clen > MaxFrameBytes || frames.length >= MaxFrames) return false
          frames += java.util.Arrays.copyOfRange(
            bytes, body.toInt, (body + clen).toInt)
        }
        pos = body + clen + (clen & 1) // chunks pad to even
      }
      true
    }
    val riffLen = le32At(4)
    val end = math.min(bytes.length.toLong, 8L + riffLen)
    if (!walk(12L, end)) return None
    if (w <= 0 || h <= 0 || usPerFrame <= 0 || frames.isEmpty) None
    else if (bits == 24 && compression == 0L) {
      // uncompressed 24-bit DIB: frames are literal pixel bytes
      val stride = ((3 * w + 3) / 4) * 4
      if (frames.exists(_.length < stride * h)) None
      else Some((w, h, usPerFrame, frames.toSeq, "dib"))
    } else if (compression == FourccMjpg) {
      // MJPEG: each frame chunk is one JPEG; decode through ImageIO
      // into the DIB layout. Any frame that fails to decode or lies
      // about its geometry rejects the whole container in-band.
      val decoded = frames.iterator.map { jb =>
        val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jb))
          catch { case _: Exception => null }
        if (img == null || img.getWidth != w || img.getHeight != h) null
        else imageToDib(img, w, h)
      }.takeWhile(_ != null).toSeq
      if (decoded.length != frames.length) None
      else Some((w, h, usPerFrame, decoded, "mjpg"))
    } else None // other codecs have no JDK decoder - in-band undecodable
  }

  /** REAL video decode stage: RIFF/AVI parse in the partition-local
    * batch. Undecodable or compressed-codec payloads surface as
    * format "undecodable" with zeroed fields — in-band. Checksum is
    * the stub's byte-rolling hash over the payload (container
    * identity, like the image/audio paths).
    */
  def decodeVideoMeta(
      df: DataFrame, idCol: String, payloadCol: String): Dataset[VideoMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"),
        graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          var ck = 1125899906842597L
          var i = 0
          while (i < bytes.length) { ck = ck * 31 + bytes(i); i += 1 }
          parseAvi(bytes) match {
            case Some((w, h, usf, frames, codec)) =>
              VideoMeta(id, bytes.length.toLong,
                if (codec == "mjpg") "mjpeg" else "avi", w, h,
                frames.length.toLong, usf, ck)
            case None =>
              VideoMeta(id, bytes.length.toLong, "undecodable", 0, 0, 0L, 0L, ck)
          }
        }
      }
  }

  /** Integer luma of a BGR24 pixel at `p` (pixel index within the
    * frame, row-stride aware) — the BT.601 integer weights of the
    * image path, exact in both engines. */
  private def lumaAt(frame: Array[Byte], w: Int, p: Int): Int = {
    val stride = ((3 * w + 3) / 4) * 4
    val row = p / w
    val off = row * stride + (p % w) * 3
    val b = java.lang.Byte.toUnsignedInt(frame(off))
    val g = java.lang.Byte.toUnsignedInt(frame(off + 1))
    val r = java.lang.Byte.toUnsignedInt(frame(off + 2))
    (299 * r + 587 * g + 114 * b) / 1000
  }

  /** REAL per-frame features over every `every`-th frame: pixel count,
    * exact luma sum, and mean luma (integer div) — the
    * frame-statistics lattice a video pipeline gates on (black-frame
    * trim, scene sampling). Undecodable payloads emit no rows.
    * Output: (id, frame_index, n_pixels, sum_luma, mean_luma).
    */
  def videoFrameFeatures(
      df: DataFrame, idCol: String, payloadCol: String,
      every: Int = 1): DataFrame = {
    require(every >= 1, "videoFrameFeatures: every must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"),
        graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        parseAvi(bytes).toSeq.flatMap { case (w, h, _, frames, _) =>
          val nPix = w * h
          (0 until frames.length by every).map { f =>
            var s = 0L
            var p = 0
            while (p < nPix) { s += lumaAt(frames(f), w, p); p += 1 }
            (id, f, nPix.toLong, s, s / nPix)
          }
        }
      }
      .toDF(idCol, "frame_index", "n_pixels", "sum_luma", "mean_luma")
  }

  /** REAL perceptual video fingerprint (the aHash pattern over the
    * concatenated per-frame LUMA stream): all frames' lumas in frame
    * order form one sequence; split into `cells` windows of
    * step = max(1, n div cells) lumas (samples past cells·step
    * ignored — the [[Multimodal.audioFingerprint]] convention). Every
    * PRESENT window holds exactly `step` lumas (cells·step ≤ n by
    * construction), so "window mean above the mean of window means"
    * reduces to the EXACT integer comparison
    * `s_i · present > Σ s_j` — no fractional doubles, no
    * accumulation-order hazard, both engines agree bitwise. Two
    * containers of the same frames fingerprint identically;
    * near-identical videos (a re-mux, a frame-accurate copy) land
    * within a few bits — pair with [[Dedup.nearDupByFingerprint]].
    * Undecodable payloads hash to 0L.
    */
  def videoFingerprint(
      df: DataFrame, idCol: String, payloadCol: String,
      cells: Int = 60, outCol: String = "vfp"): DataFrame = {
    require(cells > 0 && cells <= 63, s"cells must be in [1, 63], got $cells")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"),
        graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val fp = parseAvi(bytes) match {
            case None => 0L
            case Some((w, h, _, frames, _)) =>
              val nPix = w * h
              val n = frames.length.toLong * nPix
              val step = math.max(1L, n / cells)
              val sums = new Array[Long](cells)
              var present = 0
              var total = 0L
              var i = 0
              while (i < cells) {
                val from = i * step
                if (from < n) {
                  val until = math.min(n, from + step)
                  var s = 0L
                  var j = from
                  while (j < until) {
                    s += lumaAt(frames((j / nPix).toInt), w, (j % nPix).toInt)
                    j += 1
                  }
                  sums(i) = s; present += 1; total += s
                } else sums(i) = -1L
                i += 1
              }
              var out = 0L
              if (present > 0) {
                i = 0
                while (i < cells) {
                  if (sums(i) >= 0 && sums(i) * present > total) out |= 1L << i
                  i += 1
                }
              }
              out
          }
          (id, fp)
        }
      }
      .toDF(idCol, outCol)
  }

  /** Bridge a raw-DIB frame into the round-11 IMAGE path: decode frame
    * `frameIndex` to a BufferedImage (bottom-up DIB row order, the BMP
    * convention) and hand it to javax.imageio as PNG bytes — so every
    * per-frame image operator ([[Multimodal.perceptualHashImage]],
    * resize, features) runs on video frames unchanged. Spec-gated
    * (PNG bytes are JVM-dependent; the pixel contract is what the
    * spec pins). Output: (id, frame_index, width, height, payload).
    */
  def frameToImage(
      df: DataFrame, idCol: String, payloadCol: String,
      frameIndex: Int = 0): DataFrame = {
    require(frameIndex >= 0, "frameToImage: frameIndex must be >= 0")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"),
        graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        parseAvi(bytes).toSeq.flatMap { case (w, h, _, frames, _) =>
          if (frameIndex >= frames.length) Nil
          else {
            val frame = frames(frameIndex)
            val stride = ((3 * w + 3) / 4) * 4
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val off = (h - 1 - y) * stride + x * 3 // DIB rows are bottom-up
                val b = java.lang.Byte.toUnsignedInt(frame(off))
                val g = java.lang.Byte.toUnsignedInt(frame(off + 1))
                val r = java.lang.Byte.toUnsignedInt(frame(off + 2))
                img.setRGB(x, y, (r << 16) | (g << 8) | b)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            Seq((id, frameIndex, w, h, bos.toByteArray))
          }
        }
      }
      .toDF(idCol, "frame_index", "width", "height", "payload")
  }
}
