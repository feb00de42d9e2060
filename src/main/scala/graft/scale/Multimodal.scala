package graft.scale

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY.md §7.4): treat image/audio/video
  * payloads as opaque `binary` columns with typed metadata, and run
  * decode / feature-extraction as a partition-local batch map.
  *
  * Two decode configs share one batch shape:
  *   - the STUB (`FakeDecode` and the byte-subsample stages) — fully
  *     deterministic from payload BYTES, so the `x_mm_*` oracle keys
  *     replay it in DuckDB;
  *   - the REAL image path (`decodeMetaImageIO`, `perceptualHashImage`,
  *     `resizeImage`, `extractFeaturesImage`) on javax.imageio — the
  *     JDK's built-in PNG/BMP/GIF/JPEG codecs, spec-gated on generated
  *     fixture images (MultimodalSpec pins decode meta and the
  *     encoding-invariance of pixel-level features);
  *   - the REAL audio path (`wavPayload`, `decodeAudioMeta`,
  *     `audioFrameFeatures`, `audioFingerprint`, `resampleAudio`) on
  *     javax.sound.sampled — the JDK's built-in WAV/AIFF/AU readers.
  *     PCM16 decode is exact byte arithmetic, so the real audio path
  *     is ORACLE-gated end to end (the `x_mm_audio_*` keys), not just
  *     spec-gated. Video remains stub-only (no JDK codec).
  * Everything Spark-side is identical between configs: schema, binary
  * column handling, the mapPartitions batch shape (the Scala analogue
  * of `mapInPandas`: one iterator per partition, per-partition codec
  * init, constant memory), and partitioning behavior.
  */
object Multimodal {

  /** Typed metadata produced by the decode stage. */
  case class MediaMeta(
      doc_id: Long,
      n_bytes: Long,
      format: String,
      width: Int,
      height: Int,
      checksum: Long)

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  /** STUB decode: a real pipeline would call an image/audio codec here
    * (per partition, batched). This deterministic fake derives "format"
    * and "dimensions" from the payload bytes so tests are reproducible.
    */
  object FakeDecode {
    def apply(id: Long, bytes: Array[Byte]): MediaMeta = {
      val n = bytes.length
      val head = if (n > 0) java.lang.Byte.toUnsignedInt(bytes(0)) else 0
      val fmt = head % 3 match {
        case 0 => "png"
        case 1 => "jpeg"
        case _ => "webp"
      }
      var ck = 1125899906842597L
      var i = 0
      while (i < n) { ck = ck * 31 + bytes(i); i += 1 }
      MediaMeta(id, n.toLong, fmt, 64 + head % 192, 64 + (n % 192), ck)
    }
  }

  /** Attach a binary payload column. With real media data this is the
    * raw file bytes; here the payload is the UTF-8 encoding of a string
    * column (deterministic, lets the rest of the pipeline be exercised
    * end-to-end on the documents table).
    */
  def withBinaryPayload(df: DataFrame, srcCol: String, payloadCol: String = "payload"): DataFrame =
    df.withColumn(payloadCol, graft.ops.Cleaning.qcol(srcCol).cast("binary"))

  /** Decode stage: partition-local batch map over (id, payload) —
    * the Scala shape of `mapInPandas` (iterator in, iterator out; the
    * decode library would be initialized once per partition, not per
    * row). Output is a typed Dataset[MediaMeta].
    */
  def decodeMeta(df: DataFrame, idCol: String, payloadCol: String): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"), graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init of the (stubbed) codec happens here
        it.map { case (id, bytes) => FakeDecode(id, bytes) }
      }
  }

  /** Resize stage (STUB decode/encode): a real pipeline decodes the image,
    * resamples to targetW×targetH, re-encodes. The deterministic fake
    * subsamples the payload bytes to a `targetW*targetH/64`-byte "image"
    * so output sizes behave like a real resize. Batch shape identical to
    * production (partition-local, iterator in/out).
    */
  def resize(df: DataFrame, idCol: String, payloadCol: String,
      targetW: Int = 256, targetH: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val outBytes = math.max(1, targetW * targetH / 64)
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"), graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val out = new Array[Byte](math.min(outBytes, math.max(1, bytes.length)))
          val step = math.max(1, bytes.length / out.length)
          var i = 0
          while (i < out.length && i * step < bytes.length) { out(i) = bytes(i * step); i += 1 }
          (id, targetW, targetH, out)
        }
      }
      .toDF(idCol, "width", "height", "payload")
  }

  /** Frame-sampling stage for video-like payloads (STUB decode): treats the
    * payload as `frameSize`-byte frames and emits every `every`-th frame
    * with its index — the schema/explode shape a real video sampler
    * produces (one row per sampled frame).
    */
  def sampleFrames(df: DataFrame, idCol: String, payloadCol: String,
      frameSize: Int = 1024, every: Int = 10): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"), graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val nFrames = math.max(1, bytes.length / frameSize)
        (0 until nFrames by every).map { f =>
          val from = f * frameSize
          val until = math.min(bytes.length, from + frameSize)
          (id, f, java.util.Arrays.copyOfRange(bytes, from, math.max(from + 1, until)))
        }
      }
      .toDF(idCol, "frame_index", "frame")
  }

  /** Perceptual hash of a payload — the average-hash (aHash) shape
    * image dedup pipelines run after decode: downsample to a fixed
    * `cells`-cell grid, threshold each cell against the grid mean, pack
    * the bits into one long. Near-identical images (re-encodes, minor
    * crops) land within a few bits; pair with
    * [[Dedup.nearDupByFingerprint]] for the banded Hamming join — the
    * image-side analogue of text SimHash dedup.
    *
    * The DECODE is the stub (cell value = payload byte at i×step,
    * step = max(1, n/cells) — the same subsample convention as
    * [[resize]]); a real pipeline substitutes luma averages per grid
    * cell. Default 60 cells keeps the fingerprint positive in a signed
    * long on every engine (same rationale as the portable SimHash).
    * Cell i is present iff i×step < n; mean = Σv/|present| in double;
    * bit i set iff v_i > mean (strict); empty/null payload → 0L.
    */
  def perceptualHash(
      df: DataFrame, idCol: String, payloadCol: String,
      cells: Int = 60, outCol: String = "phash"): DataFrame = {
    require(cells > 0 && cells <= 63, s"cells must be in [1, 63], got $cells")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"), graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          val n = bytes.length
          val step = math.max(1, n / cells)
          val vs = new Array[Int](cells)
          var present = 0
          var sum = 0L
          var i = 0
          while (i < cells) {
            val pos = i * step
            if (pos < n) {
              vs(i) = java.lang.Byte.toUnsignedInt(bytes(pos))
              sum += vs(i); present += 1
            } else vs(i) = -1
            i += 1
          }
          var fp = 0L
          if (present > 0) {
            val mean = sum.toDouble / present
            i = 0
            while (i < cells) {
              if (vs(i) > mean) fp |= 1L << i
              i += 1
            }
          }
          (id, fp)
        }
      }
      .toDF(idCol, outCol)
  }

  // ------------------------------------------------------------------
  // REAL image decode — javax.imageio (JDK-builtin: PNG/BMP/GIF/JPEG
  // readers ship with the JRE, no external codec, no egress). The same
  // mapPartitions batch shape as the stub stages above, so a pipeline
  // swaps ONE stage to go from replayable-fake to real decode. The
  // stub stays the oracle config (byte-level deterministic across
  // engines); the real stages are spec-gated (MultimodalSpec decodes
  // generated PNG/BMP fixtures and pins encoding-invariance).
  // ------------------------------------------------------------------

  /** Largest pixel count [[decodeImage]] will allocate (64 Mpx ≈ 256 MB
    * of ARGB) — headers claiming more are treated as undecodable before
    * any allocation happens (decompression-bomb guard). Generous for
    * real corpora: 64 Mpx is ~8Kx8K, beyond any training image. */
  private val MaxDecodePixels: Long = 64L * 1024L * 1024L

  /** Decode `bytes` with the first capable ImageIO reader. None for
    * empty/undecodable payloads (kept in-band by callers). */
  private def decodeImage(
      bytes: Array[Byte]): Option[(String, java.awt.image.BufferedImage)] = {
    if (bytes == null || bytes.isEmpty) return None
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          val fmt = r.getFormatName.toLowerCase
          // Decompression-bomb guard: a tiny payload whose header
          // declares huge dimensions (e.g. a 100000x100000 PNG) would
          // make r.read(0) allocate the full BufferedImage and OOM the
          // executor — an Error the Exception catch below can't keep
          // in-band. getWidth/getHeight only parse the header, so
          // oversized claims are rejected before any pixel allocation
          // and surface as "undecodable" like any other bad payload.
          val w = r.getWidth(0)
          val h = r.getHeight(0)
          if (w <= 0 || h <= 0 || w.toLong * h.toLong > MaxDecodePixels) None
          else Option(r.read(0)).map(img => (fmt, img))
        } catch { case _: Exception => None }
        finally r.dispose()
      }
    } finally if (iis != null) iis.close()
  }

  /** Integer luma (0..255) of an RGB pixel — the BT.601 weights in
    * integer arithmetic (deterministic on every JVM). */
  private def luma(rgb: Int): Int = {
    val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
    (299 * r + 587 * g + 114 * b) / 1000
  }

  /** REAL decode stage: [[decodeMeta]]'s shape with javax.imageio in
    * the partition-local batch. Undecodable payloads surface as format
    * "undecodable" with 0x0 dimensions — in-band, so an audit filter
    * can count/route them instead of the job dying on one bad file.
    * The checksum is the stub's byte-rolling hash (payload identity,
    * not pixel identity — two encodings of one image differ here and
    * agree in [[perceptualHashImage]], which is the point of each).
    */
  def decodeMetaImageIO(
      df: DataFrame, idCol: String, payloadCol: String): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"), graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          var ck = 1125899906842597L
          var i = 0
          while (i < bytes.length) { ck = ck * 31 + bytes(i); i += 1 }
          decodeImage(bytes) match {
            case Some((fmt, img)) =>
              MediaMeta(id, bytes.length.toLong, fmt, img.getWidth, img.getHeight, ck)
            case None =>
              MediaMeta(id, bytes.length.toLong, "undecodable", 0, 0, ck)
          }
        }
      }
  }

  /** REAL perceptual hash: decode, average integer luma per cell of a
    * `gridW`x`gridH` grid, threshold each cell against the grid mean
    * (strict, like the stub), pack the bits. The property the stub
    * cannot have and image dedup actually needs: two ENCODINGS of the
    * same pixels (PNG vs BMP) hash identically — spec-pinned. Pair
    * with [[Dedup.nearDupByFingerprint]] for the banded Hamming join.
    * Undecodable payloads hash to 0L (in-band).
    */
  def perceptualHashImage(
      df: DataFrame, idCol: String, payloadCol: String,
      gridW: Int = 8, gridH: Int = 7, outCol: String = "phash"): DataFrame = {
    require(gridW > 0 && gridH > 0 && gridW * gridH <= 63,
      s"grid must fit a signed long: got ${gridW}x$gridH")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"), graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val fp = decodeImage(bytes) match {
            case None => 0L
            case Some((_, img)) =>
              val w = img.getWidth; val h = img.getHeight
              val cells = gridW * gridH
              val means = new Array[Double](cells)
              var total = 0.0
              var cy = 0
              while (cy < gridH) {
                var cx = 0
                while (cx < gridW) {
                  val x0 = cx * w / gridW; val x1 = math.max(x0 + 1, (cx + 1) * w / gridW)
                  val y0 = cy * h / gridH; val y1 = math.max(y0 + 1, (cy + 1) * h / gridH)
                  var s = 0L; var c = 0
                  var y = y0
                  while (y < y1 && y < h) {
                    var x = x0
                    while (x < x1 && x < w) { s += luma(img.getRGB(x, y)); c += 1; x += 1 }
                    y += 1
                  }
                  val m = if (c > 0) s.toDouble / c else 0.0
                  means(cy * gridW + cx) = m
                  total += m
                  cx += 1
                }
                cy += 1
              }
              val mean = total / cells
              var out = 0L
              var i = 0
              while (i < cells) { if (means(i) > mean) out |= 1L << i; i += 1 }
              out
          }
          (id, fp)
        }
      }
      .toDF(idCol, outCol)
  }

  /** REAL resize: decode, nearest-neighbor resample (a deterministic
    * integer map — `src(x·w div W, y·h div H)` — rather than AWT's
    * platform-tuned rendering pipeline), re-encode as PNG (lossless;
    * the spec pins pixel equality through the roundtrip, not byte
    * equality — PNG compressors may differ across JVMs). Undecodable
    * payloads pass through as empty output payloads with 0x0 declared
    * dimensions.
    */
  def resizeImage(
      df: DataFrame, idCol: String, payloadCol: String,
      targetW: Int = 256, targetH: Int = 256): DataFrame = {
    require(targetW > 0 && targetH > 0, "target dimensions must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"), graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodeImage(bytes) match {
            case None => (id, 0, 0, Array.emptyByteArray)
            case Some((_, img)) =>
              val w = img.getWidth; val h = img.getHeight
              val out = new java.awt.image.BufferedImage(
                targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < targetH) {
                var x = 0
                while (x < targetW) {
                  out.setRGB(x, y, img.getRGB(x * w / targetW, y * h / targetH))
                  x += 1
                }
                y += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", bos)
              (id, targetW, targetH, bos.toByteArray)
          }
        }
      }
      .toDF(idCol, "width", "height", "payload")
  }

  /** REAL feature vector: L1-normalized luma histogram over all pixels
    * folded to `dim` buckets (`luma · dim div 256`) — encoding-
    * invariant like [[perceptualHashImage]]. Undecodable → zero
    * vector.
    */
  def extractFeaturesImage(
      df: DataFrame, idCol: String, payloadCol: String, dim: Int = 16): DataFrame = {
    require(dim > 0, "dim must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"), graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val hist = new Array[Double](dim)
          decodeImage(bytes).foreach { case (_, img) =>
            val w = img.getWidth; val h = img.getHeight
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { hist(luma(img.getRGB(x, y)) * dim / 256) += 1.0; x += 1 }
              y += 1
            }
            val total = math.max(1.0, (w.toLong * h).toDouble)
            var i = 0
            while (i < dim) { hist(i) /= total; i += 1 }
          }
          (id, hist)
        }
      }
      .toDF(idCol, "features")
  }

  // ------------------------------------------------------------------
  // REAL audio decode — javax.sound.sampled (JDK-builtin WAV/AIFF/AU
  // readers, no external codec, no egress). Same mapPartitions batch
  // shape as the image path. PCM16 WAV is EXACT byte arithmetic
  // (samples are the little-endian int16 pairs of the data chunk), so
  // unlike the image path the REAL decode is itself oracle-gated: the
  // engine builds canonical WAV payloads from document text with
  // [[wavPayload]], decodes them with the real JDK codec, and DuckDB
  // replays every sample from the same bytes. The stub stages above
  // remain the config for payloads with no JDK codec (video).
  // ------------------------------------------------------------------

  /** Typed metadata produced by the audio decode stage. */
  case class AudioMeta(
      doc_id: Long,
      n_bytes: Long,
      format: String,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_frames: Long,
      checksum: Long)

  /** Largest decoded sample count [[decodeWav]] will allocate (128 M
    * samples = 256 MB of PCM16). PCM in a WAV container is stored 1:1
    * (no compression), so a payload cannot "bomb" past its own size —
    * the cap is defensive against other AudioSystem-parseable
    * containers (compressed AU/AIFF variants) with lying headers. */
  private val MaxDecodeSamples: Long = 128L * 1024L * 1024L

  /** Canonical 44-byte-header RIFF/WAVE PCM16 mono payload around
    * `data` (padded to even length with one zero byte). */
  private[scale] def wavBytes(data: Array[Byte], sampleRate: Int): Array[Byte] = {
    val dataLen = data.length + (data.length & 1)
    val out = new Array[Byte](44 + dataLen)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def tag(off: Int, s: String): Unit = {
      var i = 0
      while (i < 4) { out(off + i) = s.charAt(i).toByte; i += 1 }
    }
    tag(0, "RIFF"); le32(4, 36 + dataLen); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16)
    le16(20, 1)            // PCM
    le16(22, 1)            // mono
    le32(24, sampleRate)
    le32(28, sampleRate * 2) // byte rate (blockAlign 2)
    le16(32, 2)            // block align
    le16(34, 16)           // bits per sample
    tag(36, "data"); le32(40, dataLen)
    System.arraycopy(data, 0, out, 44, data.length)
    out
  }

  /** Build a REAL PCM16 WAV payload from a string column's UTF-8 bytes
    * (consecutive byte pairs become little-endian int16 samples; an
    * odd tail byte pads with a zero high byte) — the audio analogue of
    * [[withBinaryPayload]]: deterministic from the text, so every
    * downstream REAL-decode stage is byte-replayable by the oracle.
    * Emits (idCol, payloadCol) via the partition-local batch map.
    */
  def wavPayload(df: DataFrame, idCol: String, srcCol: String,
      sampleRate: Int = 16000, payloadCol: String = "payload"): DataFrame = {
    require(sampleRate > 0, "wavPayload: sampleRate must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"),
        graft.ops.Cleaning.qcol(srcCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, s) =>
          val data = if (s == null) Array.emptyByteArray
            else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (id, wavBytes(data, sampleRate))
        }
      }
      .toDF(idCol, payloadCol)
  }

  /** Fast path: parse a RIFF/WAVE PCM16 container directly (chunk walk
    * to "fmt " and "data"; little-endian int16 samples) — the format
    * [[wavBytes]] emits and real corpora overwhelmingly carry. Pure
    * byte arithmetic, ~100x cheaper than AudioSystem's stream stack
    * (measured 16.3 s -> sub-second for the sf1 meta pass), which
    * matters when the decode is the whole job. Returns None on
    * anything it isn't SURE about (non-PCM, non-16-bit, malformed
    * chunks) so the AudioSystem fallback keeps full JDK coverage
    * (AIFF/AU, odd WAV variants). Truncated data chunks clamp to the
    * available bytes — AudioSystem's read behavior. */
  private def parseRiffPcm16(
      bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    if (bytes.length < 44) return None
    def u8(i: Int) = java.lang.Byte.toUnsignedInt(bytes(i))
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int, s: String) =
      s.indices.forall(k => bytes(i + k) == s.charAt(k).toByte)
    if (!tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var pos = 12
    var audioFmt = -1; var ch = -1; var rate = -1; var bits = -1
    var dataOff = -1; var dataLen = -1L
    while (pos + 8 <= bytes.length && dataOff < 0) {
      val clen = le32(pos + 4)
      if (clen < 0 || clen > bytes.length) return None
      if (tag(pos, "fmt ")) {
        if (pos + 8 + 16 > bytes.length) return None
        audioFmt = le16(pos + 8); ch = le16(pos + 10)
        rate = le32(pos + 12).toInt; bits = le16(pos + 22)
      } else if (tag(pos, "data")) {
        dataOff = pos + 8; dataLen = clen
      }
      // chunks pad to even length
      pos += 8 + clen.toInt + (clen.toInt & 1)
    }
    if (audioFmt != 1 || bits != 16 || rate <= 0 || ch <= 0 || dataOff < 0) None
    else {
      val avail = math.min(dataLen, (bytes.length - dataOff).toLong)
      val n = (avail / 2).toInt
      if (n > MaxDecodeSamples) None
      else {
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          out(i) = ((u8(dataOff + 2 * i + 1) << 8) | u8(dataOff + 2 * i)).toShort
          i += 1
        }
        Some((rate, ch, out))
      }
    }
  }

  /** Decode `bytes` with the fast RIFF parser, falling back to the JDK
    * audio stack. Some((type, format, samples)) for PCM16 streams —
    * samples in stream order (channels interleaved; callers treat the
    * stream as one sample sequence) — None for empty/undecodable/
    * non-PCM16 payloads (kept in-band by callers). */
  private def decodeWav(
      bytes: Array[Byte]): Option[(String, javax.sound.sampled.AudioFormat, Array[Short])] = {
    if (bytes == null || bytes.isEmpty) return None
    parseRiffPcm16(bytes) match {
      case Some((rate, ch, samples)) =>
        return Some(("wave",
          new javax.sound.sampled.AudioFormat(rate.toFloat, 16, ch, true, false),
          samples))
      case None => ()
    }
    try {
      val typ = javax.sound.sampled.AudioSystem
        .getAudioFileFormat(new java.io.ByteArrayInputStream(bytes))
        .getType.toString.toLowerCase
      val ais = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        val enc = fmt.getEncoding
        if (enc != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) None
        else if (ais.getFrameLength > 0 &&
            ais.getFrameLength * math.max(1, fmt.getChannels) > MaxDecodeSamples) None
        else {
          val ba = ais.readAllBytes()
          val n = ba.length / 2
          val out = new Array[Short](n)
          val be = fmt.isBigEndian
          var i = 0
          while (i < n) {
            val b0 = java.lang.Byte.toUnsignedInt(ba(2 * i))
            val b1 = java.lang.Byte.toUnsignedInt(ba(2 * i + 1))
            out(i) = (if (be) (b0 << 8) | b1 else (b1 << 8) | b0).toShort
            i += 1
          }
          Some((typ, fmt, out))
        }
      } finally ais.close()
    } catch { case _: Exception => None }
  }

  /** REAL audio decode stage: [[decodeMeta]]'s shape with
    * javax.sound.sampled in the partition-local batch. Undecodable or
    * non-PCM16 payloads surface as format "undecodable" with zeroed
    * audio fields — in-band, like the image path. The checksum is the
    * stub's byte-rolling hash over the PAYLOAD (container identity;
    * two containers of one signal differ here and agree in
    * [[audioFingerprint]]).
    */
  def decodeAudioMeta(
      df: DataFrame, idCol: String, payloadCol: String): Dataset[AudioMeta] = {
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
          decodeWav(bytes) match {
            case Some((typ, fmt, samples)) =>
              val ch = math.max(1, fmt.getChannels)
              AudioMeta(id, bytes.length.toLong, typ,
                math.round(fmt.getSampleRate), ch, 16,
                samples.length.toLong / ch, ck)
            case None =>
              AudioMeta(id, bytes.length.toLong, "undecodable", 0, 0, 0, 0L, ck)
          }
        }
      }
  }

  /** REAL audio feature extraction: decode, then one row per
    * `frameSamples`-sample frame with its ENERGY (Σ s², exact long)
    * and ZERO-CROSSING count (sign flips between consecutive samples
    * WITHIN the frame; sign(x) = x < 0) — the frame-energy /
    * zero-crossing lattice a speech pipeline gates on (silence
    * trimming, voice activity). Undecodable or empty payloads emit no
    * rows (an empty lattice is the in-band "nothing decodable"
    * signal; route on [[decodeAudioMeta]]'s format for the audit).
    * Output: (id, frame_index, n_samples, energy, zero_crossings).
    */
  def audioFrameFeatures(
      df: DataFrame, idCol: String, payloadCol: String,
      frameSamples: Int = 32): DataFrame = {
    require(frameSamples > 0, "audioFrameFeatures: frameSamples must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"),
        graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        decodeWav(bytes).toSeq.flatMap { case (_, _, s) =>
          val nFrames = (s.length + frameSamples - 1) / frameSamples
          (0 until nFrames).map { f =>
            val from = f * frameSamples
            val until = math.min(s.length, from + frameSamples)
            var energy = 0L
            var zc = 0L
            var j = from
            while (j < until) {
              energy += s(j).toLong * s(j)
              if (j > from && (s(j - 1) < 0) != (s(j) < 0)) zc += 1
              j += 1
            }
            (id, f, (until - from).toLong, energy, zc)
          }
        }
      }
      .toDF(idCol, "frame_index", "n_samples", "energy", "zero_crossings")
  }

  /** REAL perceptual audio fingerprint (the aHash pattern over frame
    * ENERGIES): decode, split the sample stream into `cells` windows
    * of step = max(1, n div cells) samples (window i covers samples
    * [i·step, min(n, (i+1)·step)); samples past cells·step are
    * ignored — the stub [[perceptualHash]]'s step convention), energy
    * per window, threshold each against the mean energy of PRESENT
    * windows (strict >), pack the bits into one long. The property
    * audio dedup needs: two CONTAINERS of the same PCM (canonical
    * 44-byte header vs an encoder's chunk layout) fingerprint
    * identically — spec-pinned. Pair with
    * [[Dedup.nearDupByFingerprint]] for the banded Hamming join.
    * Undecodable/empty payloads hash to 0L (in-band).
    */
  def audioFingerprint(
      df: DataFrame, idCol: String, payloadCol: String,
      cells: Int = 60, outCol: String = "afp"): DataFrame = {
    require(cells > 0 && cells <= 63, s"cells must be in [1, 63], got $cells")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"),
        graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val fp = decodeWav(bytes) match {
            case None => 0L
            case Some((_, _, s)) if s.isEmpty => 0L
            case Some((_, _, s)) =>
              val step = math.max(1, s.length / cells)
              val es = new Array[Long](cells)
              var present = 0
              var total = 0.0
              var i = 0
              while (i < cells) {
                val from = i * step
                if (from < s.length) {
                  val until = math.min(s.length, from + step)
                  var e = 0L
                  var j = from
                  while (j < until) { e += s(j).toLong * s(j); j += 1 }
                  es(i) = e; present += 1; total += e.toDouble
                } else es(i) = -1L
                i += 1
              }
              var out = 0L
              if (present > 0) {
                val mean = total / present
                i = 0
                while (i < cells) {
                  if (es(i) >= 0 && es(i) > mean) out |= 1L << i
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

  /** REAL audio resample: decode, nearest-neighbor resample the PCM
    * stream to `targetRate` (out sample j = src(j·n div m) with
    * m = n·targetRate div srcRate — the deterministic integer map of
    * [[resizeImage]], not an interpolating filter), re-encode with the
    * canonical [[wavBytes]] header. Undecodable payloads pass through
    * as empty output payloads with zeroed fields. Output:
    * (id, sample_rate, n_frames, payload).
    */
  def resampleAudio(
      df: DataFrame, idCol: String, payloadCol: String,
      targetRate: Int = 8000): DataFrame = {
    require(targetRate > 0, "resampleAudio: targetRate must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"),
        graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodeWav(bytes) match {
            case None => (id, 0, 0L, Array.emptyByteArray)
            case Some((_, fmt, s)) =>
              val srcRate = math.max(1, math.round(fmt.getSampleRate))
              val n = s.length
              val m = (n.toLong * targetRate / srcRate).toInt
              val data = new Array[Byte](2 * m)
              var j = 0
              while (j < m) {
                val v = s((j.toLong * n / m).toInt)
                data(2 * j) = (v & 0xff).toByte
                data(2 * j + 1) = ((v >> 8) & 0xff).toByte
                j += 1
              }
              (id, targetRate, m.toLong, wavBytes(data, targetRate))
          }
        }
      }
      .toDF(idCol, "sample_rate", "n_frames", "payload")
  }

  /** Feature-extract stage: fixed-size float feature vector per payload
    * (stub: byte histogram folded to `dim` buckets, L1-normalized) —
    * the same batch shape a real embedding model invocation would use.
    */
  def extractFeatures(df: DataFrame, idCol: String, payloadCol: String, dim: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(graft.ops.Cleaning.qcol(idCol).cast("long"), graft.ops.Cleaning.qcol(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val hist = new Array[Double](dim)
          bytes.foreach(b => hist(java.lang.Byte.toUnsignedInt(b) % dim) += 1.0)
          val total = math.max(1.0, bytes.length.toDouble)
          (id, hist.map(_ / total))
        }
      }
      .toDF(idCol, "features")
  }
}
