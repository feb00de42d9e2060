package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Stats
import graft.scale.{Dedup, Multimodal}
import EntryShared._

/** [[SparkEntry]] slice: multimodal payload stages and custom aggregates.
  * Query lambdas and their DuckDB oracle mirrors live side by side;
  * the maps compose into the driver contract in [[SparkEntry]].
  * Determinism rules documented there apply to every entry.
  */
private[graft] object QueriesMmAgg {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // HLL++ distinct gated against exact (the recall-gate contract):
    // registers are mergeable map-side state — the 100 TB distinct —
    // and the verdict row pins the sketch within 5% of truth
    "x_agg_hll_gate" -> ((s, d) =>
      graft.ops.Stats.approxDistinctGate(T(s, d, "lineitem"),
        "l_orderkey", Seq("l_returnflag"), rsd = 0.02, relTol = 0.05)),

    // Count-Min frequency sketch gated on its one-sided guarantee —
    // estimate in [exact, exact + eps·N] for the top-20 heavy keys;
    // the sketch blob is engine-internal, the verdict frame is what
    // the oracle pins (the HLL/GK gate contract)
    "x_agg_cms_gate" -> ((s, d) =>
      Stats.countMinGate(T(s, d, "events"), "user_id",
        eps = 0.005, confidence = 0.99, seed = 42, probeKeys = 20)),

    // GK percentile sketch gated on its rank guarantee: the returned
    // element's exact rank interval must intersect the q∓2/accuracy
    // rank window (ranks, not interpolated values — those fail
    // spuriously on small/gappy groups). This is the CI form — its
    // verification join re-scans the corpus, a cost production never
    // pays; the bench-priced shipped form is x_agg_approxq
    "x_agg_approxq_gate" -> ((s, d) =>
      graft.ops.Stats.approxPercentileGate(T(s, d, "lineitem"),
        "l_extendedprice", Seq("l_returnflag"), q = 0.5, accuracy = 1000)),

    // the SHIPPED GK pass: ONE hash aggregate (sketch + exact
    // count/min/max in the same pass) — the production plan the bench
    // row prices; the rank guarantee stays gated by x_agg_approxq_gate
    "x_agg_approxq" -> ((s, d) =>
      graft.ops.Stats.approxPercentileShipped(T(s, d, "lineitem"),
        "l_extendedprice", Seq("l_returnflag"), q = 0.5, accuracy = 1000)),

    // mergeable weighted-quantile sketch in its EXACT configuration
    // (50 distinct l_quantity values ≪ capacity → stride 1): the
    // shipped 100 TB weighted-percentile path, hash-checked against the
    // sort-based lower-weighted-median definition
    // explicit floor() both sides: Spark's double→long cast truncates
    // while DuckDB's CAST rounds half-even — floor is the one form the
    // engines agree on (the testdata is integer-valued, but the oracle
    // must not depend on that)
    "x_agg_wquantile" -> ((s, d) =>
      T(s, d, "lineitem")
        .select(col("l_returnflag"), floor(col("l_quantity")).cast("long").as("v"),
          col("l_linenumber").cast("long").as("w"))
        .filter(col("v").isNotNull && col("w").isNotNull)
        .groupBy(col("l_returnflag"))
        .agg(graft.functions.Aggregates.weightedQuantileSketch(
          col("v"), col("w"), 0.5).as("median_qty"))),

    // one-pass Space-Saving heavy hitters over RAW event rows (no
    // per-user pre-aggregation shuffle); capacity 65536 ≥ distinct
    // users at every sf → exact counts (the oracle config; approximate
    // eviction mode is spec-graded on its count/error guarantees)
    "x_agg_heavyhitters" -> ((s, d) =>
      T(s, d, "events")
        .agg(graft.functions.Aggregates.heavyHitters(
          col("user_id"), outputK = 10, capacity = 65536).as("top"))
        .select(posexplode(col("top")).as(Seq("pos", "t")))
        .select((col("pos") + 1).cast("int").as("rank"),
          col("t.value").as("user_id"), col("t.count").as("n"))),

    // custom TypedImperativeAggregate: exact per-group top-k with a
    // k-bounded buffer — partial aggregation caps the shuffle at
    // groups × k rows where the window form shuffles every row
    "x_agg_topk" -> ((s, d) => {
      val per = T(s, d, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
        .filter(col("cents").isNotNull)
      per.groupBy(col("event_type"))
        .agg(graft.functions.Aggregates.topKByWeight(col("user_id"), col("cents"), 5).as("top"))
        .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
          col("t.value").as("user_id"), col("t.weight").as("cents"))
    }),

    // --- §7.4 multimodal ---------------------------------------------
    "x_mm_meta" -> ((s, d) =>
      Multimodal.decodeMeta(
        Multimodal.withBinaryPayload(T(s, d, "documents"), "text"), "doc_id", "payload")
        .toDF().select("doc_id", "n_bytes", "format", "width", "height")),

    // long format (one row per histogram bucket): the driver's compare
    // hashes scalar cells, so the feature vector is exploded; value =
    // bucket_count / payload_bytes is exact integer division in IEEE
    // doubles on both engines
    "x_mm_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.withBinaryPayload(T(s, d, "documents"), "text"),
        "doc_id", "payload", dim = 16)
        .select(col("doc_id"), posexplode(col("features")).as(Seq("bucket", "value")))),

    // resize plumbing: output size arithmetic of the stub resampler
    "x_mm_resize" -> ((s, d) =>
      Multimodal.resize(
        Multimodal.withBinaryPayload(T(s, d, "documents"), "text"),
        "doc_id", "payload", targetW = 128, targetH = 128)
        .select(col("doc_id"), col("width"), col("height"),
          length(col("payload")).cast("long").as("out_bytes"))),

    // frame-sampling plumbing: emit (doc_id, frame_index, frame_bytes) —
    // the byte arithmetic of the stub sampler is DuckDB-mirrorable
    "x_mm_frames" -> ((s, d) =>
      Multimodal.sampleFrames(
        Multimodal.withBinaryPayload(T(s, d, "documents"), "text"),
        "doc_id", "payload", frameSize = 64, every = 2)
        .select(col("doc_id"), col("frame_index"),
          length(col("frame")).cast("long").as("frame_bytes"))),

    // perceptual-hash image dedup (aHash over the stub decode) + the
    // generic banded Hamming join — full-recall config (uncapped,
    // pigeonhole exact), so the oracle is the all-pairs Hamming set
    // over the same byte-level fingerprint
    "x_mm_phash_dedup" -> ((s, d) => {
      val fps = Multimodal.perceptualHash(
        Multimodal.withBinaryPayload(
          T(s, d, "documents").filter(col("doc_id") < 400), "text"),
        "doc_id", "payload")
      Dedup.nearDupByFingerprint(fps, "doc_id", "phash",
        maxHamming = 4, fpBits = 60, maxBucketSize = 0)
    }),

    // REAL audio decode (javax.sound.sampled) over deterministic WAV
    // payloads built from the text bytes — PCM16 is exact byte
    // arithmetic, so the real JDK decode is oracle-replayable
    "x_mm_audio_meta" -> ((s, d) =>
      Multimodal.decodeAudioMeta(
        Multimodal.wavPayload(T(s, d, "documents"), "doc_id", "text",
          sampleRate = 16000),
        "doc_id", "payload")
        .toDF().select("doc_id", "n_bytes", "format", "sample_rate",
          "channels", "bits", "n_frames")),

    // frame-energy / zero-crossing lattice over the REAL decode: one
    // row per 32-sample frame, energy = sum s^2 (exact long), zc =
    // within-frame sign flips
    "x_mm_audio_features" -> ((s, d) =>
      Multimodal.audioFrameFeatures(
        Multimodal.wavPayload(T(s, d, "documents"), "doc_id", "text",
          sampleRate = 16000),
        "doc_id", "payload", frameSamples = 32)),

    // NN resample 16k -> 8k: out frames = n div 2, out payload = 44 +
    // 2*m canonical WAV — the length arithmetic gates here; sample
    // equality is spec-pinned
    "x_mm_audio_resample" -> ((s, d) =>
      Multimodal.resampleAudio(
        Multimodal.wavPayload(T(s, d, "documents"), "doc_id", "text",
          sampleRate = 16000),
        "doc_id", "payload", targetRate = 8000)
        .select(col("doc_id"), col("sample_rate"), col("n_frames"),
          length(col("payload")).cast("long").as("out_bytes"))),

    // perceptual audio fingerprint (aHash over 60 window energies of
    // the REAL decode) + the banded Hamming join — full-recall config
    // (uncapped, pigeonhole exact), oracle is the all-pairs Hamming set
    "x_mm_audio_fp_dedup" -> ((s, d) => {
      val fps = Multimodal.audioFingerprint(
        Multimodal.wavPayload(
          T(s, d, "documents").filter(col("doc_id") < 400), "doc_id", "text",
          sampleRate = 16000),
        "doc_id", "payload")
      Dedup.nearDupByFingerprint(fps, "doc_id", "afp",
        maxHamming = 4, fpBits = 60, maxBucketSize = 0)
    }),

    // REAL video decode (RIFF/AVI, raw-DIB frames) over deterministic
    // containers built from the text bytes — uncompressed frames are
    // exact byte arithmetic like PCM16, so the real container walk is
    // oracle-replayable; n_frames is COUNTED from movi, never trusted
    // from the header
    "x_mm_video_meta" -> ((s, d) =>
      graft.scale.Video.decodeVideoMeta(
        graft.scale.Video.aviPayload(T(s, d, "documents"), "doc_id", "text"),
        "doc_id", "payload")
        .toDF().select("doc_id", "n_bytes", "format", "width", "height",
          "n_frames", "us_per_frame")),

    // per-frame luma statistics over the REAL decode: one row per
    // frame, exact integer luma sums (BT.601 integer weights)
    "x_mm_video_features" -> ((s, d) =>
      graft.scale.Video.videoFrameFeatures(
        graft.scale.Video.aviPayload(T(s, d, "documents"), "doc_id", "text"),
        "doc_id", "payload")),

    // COMPRESSED codec end-to-end: real JPEG encode per frame (MJPG
    // mux) and real per-frame ImageIO decode on the read side. JPEG
    // bytes are encoder-dependent, so the gate holds the container
    // facts (geometry/frame count/timing, all re-derived by the
    // decode — a frame that fails to decode flips format to
    // 'undecodable' and zeroes them); pixel-level MJPEG assertions
    // are spec-pinned (VideoSpec). Bounded slice (the fp_dedup
    // convention): JPEG codec cost is per-frame real work, the
    // contract doesn't need the whole corpus to exercise it.
    "x_mm_video_mjpeg" -> ((s, d) =>
      graft.scale.Video.decodeVideoMeta(
        graft.scale.Video.aviMjpegPayload(
          T(s, d, "documents").filter(col("doc_id") < 2000), "doc_id", "text"),
        "doc_id", "payload")
        .toDF().select("doc_id", "format", "width", "height",
          "n_frames", "us_per_frame")),

    // perceptual video fingerprint (aHash over 60 luma windows, exact
    // integer threshold) + the banded Hamming join — full-recall
    // config, oracle is the all-pairs Hamming set
    "x_mm_video_fp_dedup" -> ((s, d) => {
      val fps = graft.scale.Video.videoFingerprint(
        graft.scale.Video.aviPayload(
          T(s, d, "documents").filter(col("doc_id") < 400), "doc_id", "text"),
        "doc_id", "payload")
      Dedup.nearDupByFingerprint(fps, "doc_id", "vfp",
        maxHamming = 4, fpBits = 60, maxBucketSize = 0)
    }),
  )

  val oracleSql: Map[String, String] = Map(

    // sketch-vs-exact gate: the oracle pins the verdict TRUE and the
    // exact counts; the HLL value itself never leaves the engine
    "x_agg_hll_gate" ->
      """SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
        |       CAST(0.05 AS DOUBLE) AS rel_tol, TRUE AS within_tol
        |FROM lineitem GROUP BY 1""".stripMargin,

    // CMS gate: same contract — top-20 keys by (count desc, key asc),
    // exact counts + constants + pinned TRUE
    "x_agg_cms_gate" ->
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
        |           FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |r AS (SELECT user_id, n_exact,
        |        row_number() OVER (ORDER BY n_exact DESC, user_id ASC) AS rk FROM c)
        |SELECT user_id, n_exact, CAST(0.005 AS DOUBLE) AS eps, TRUE AS within_bounds
        |FROM r WHERE rk <= 20""".stripMargin,

    // shipped GK pass: exact count/min/max ride the sketch aggregate;
    // the boolean is the deterministic sanity bound (value within the
    // group's [min, max]), pinned TRUE
    "x_agg_approxq" ->
      """SELECT l_returnflag, CAST(count(l_extendedprice) AS BIGINT) AS n,
        |       min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
        |       TRUE AS sketch_in_range
        |FROM lineitem GROUP BY 1""".stripMargin,

    // GK-sketch gate: same contract — counts + constants + pinned TRUE
    "x_agg_approxq_gate" ->
      """SELECT l_returnflag, CAST(count(l_extendedprice) AS BIGINT) AS n,
        |       CAST(0.5 AS DOUBLE) AS q, CAST(0.002 AS DOUBLE) AS rank_eps,
        |       TRUE AS within_bounds
        |FROM lineitem GROUP BY 1""".stripMargin,

    "x_mm_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CASE ord(substr(text, 1, 1)) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
        |       CAST(64 + ord(substr(text, 1, 1)) % 192 AS INT) AS width,
        |       CAST(64 + octet_length(encode(text)) % 192 AS INT) AS height
        |FROM documents""".stripMargin,

    // byte-level mirror of the stub feature extractor: hex-expand the
    // UTF-8 blob, map hex pairs back to byte values via a 256-row lookup,
    // fold to 16 buckets, L1-normalize. count/total is exact integer
    // division in IEEE doubles on both engines.
    "x_mm_features" ->
      """WITH hmap AS (SELECT i AS bval, printf('%02x', i) AS hh FROM range(0, 256) t(i)),
        |d AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |             CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents),
        |b AS (SELECT doc_id, n, unnest(range(1, n + 1)) AS i, hx FROM d),
        |v AS (SELECT b.doc_id, CAST(hmap.bval % 16 AS INT) AS bucket
        |      FROM b JOIN hmap ON substr(b.hx, CAST(2*b.i-1 AS INT), 2) = hmap.hh),
        |c AS (SELECT doc_id, bucket, CAST(count(*) AS DOUBLE) AS cnt FROM v GROUP BY 1, 2),
        |grid AS (SELECT doc_id, n, CAST(unnest(range(0, 16)) AS INT) AS bucket FROM d)
        |SELECT grid.doc_id, grid.bucket,
        |       coalesce(c.cnt, 0) / greatest(CAST(grid.n AS DOUBLE), 1.0) AS "value"
        |FROM grid LEFT JOIN c ON grid.doc_id = c.doc_id AND grid.bucket = c.bucket""".stripMargin,

    // resize stub: out length = min(128*128/64, max(1, n))
    "x_mm_resize" ->
      """SELECT doc_id, CAST(128 AS INT) AS width, CAST(128 AS INT) AS height,
        |       CAST(least(256, greatest(1, octet_length(encode(text)))) AS BIGINT) AS out_bytes
        |FROM documents""".stripMargin,

    // mirrors FakeDecode frame slicing: nFrames = max(1, n/64), every
    // 2nd frame, last/empty frames clamp to >= 1 byte (copyOfRange pad)
    "x_mm_frames" ->
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, n, unnest(range(0, greatest(n // 64, 1), 2)) AS fi FROM d)
        |SELECT doc_id, CAST(fi AS INT) AS frame_index,
        |       CAST(greatest(least(n, fi * 64 + 64) - fi * 64, 1) AS BIGINT) AS frame_bytes
        |FROM f""".stripMargin,

    // byte-level aHash mirror: cell i's value is the payload byte at
    // i*step (step = max(1, n div 60), hex-expand + 256-row lookup like
    // x_mm_features), mean in double, bit i iff v > mean; pairs are the
    // full all-pairs Hamming set (the uncapped pigeonhole config is
    // recall-exact)
    "x_mm_phash_dedup" ->
      """WITH hmap AS (SELECT i AS bval, printf('%02x', i) AS hh FROM range(0, 256) t(i)),
        |d AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |             CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents WHERE doc_id < 400),
        |cells AS (SELECT d.doc_id, t.i, hmap.bval AS v
        |          FROM d CROSS JOIN range(0, 60) t(i)
        |          JOIN hmap ON hmap.hh = substr(d.hx, CAST(2 * (t.i * greatest(d.n // 60, 1)) + 1 AS INT), 2)
        |          WHERE t.i * greatest(d.n // 60, 1) < d.n),
        |m AS (SELECT doc_id, CAST(sum(v) AS DOUBLE) / count(*) AS mean FROM cells GROUP BY 1),
        |fps0 AS (SELECT cells.doc_id,
        |           CAST(sum(CASE WHEN cells.v > m.mean THEN CAST(1 AS BIGINT) << CAST(cells.i AS INT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS f
        |         FROM cells JOIN m ON cells.doc_id = m.doc_id GROUP BY 1),
        |fp AS (SELECT d.doc_id, coalesce(fps0.f, 0) AS f FROM d LEFT JOIN fps0 ON d.doc_id = fps0.doc_id),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.f, b.f)) AS hamming
        |      FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM p WHERE hamming <= 4""".stripMargin,

    // REAL audio decode meta: the canonical WAV payload is 44 header
    // bytes + text bytes padded to even; PCM16 mono at 16 kHz, frames =
    // ceil(n/2) — pure length arithmetic (NULL text encodes as empty)
    "x_mm_audio_meta" ->
      """SELECT doc_id,
        |       CAST(44 + octet_length(encode(coalesce(text, ''))) + octet_length(encode(coalesce(text, ''))) % 2 AS BIGINT) AS n_bytes,
        |       'wave' AS format,
        |       CAST(16000 AS INT) AS sample_rate,
        |       CAST(1 AS INT) AS channels,
        |       CAST(16 AS INT) AS bits,
        |       CAST((octet_length(encode(coalesce(text, ''))) + 1) // 2 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,

    // REAL audio frame features: sample j is the little-endian int16 of
    // text bytes (2j, 2j+1) (odd tail pads a zero high byte; hex-expand
    // + 256-row lookup like x_mm_features), 32-sample frames, energy =
    // sum s^2 exact, zc = within-frame sign flips via lag
    "x_mm_audio_features" ->
      """WITH hmap AS (SELECT i AS bval, printf('%02x', i) AS hh FROM range(0, 256) t(i)),
        |d AS (SELECT doc_id, lower(hex(encode(coalesce(text, '')))) AS hx,
        |             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n FROM documents),
        |ns AS (SELECT doc_id, hx, n, (n + 1) // 2 AS ns FROM d),
        |sj AS (SELECT doc_id, hx, n, unnest(range(0, ns)) AS j FROM ns),
        |sv AS (SELECT s.doc_id, s.j, lo.bval + 256 * coalesce(hi.bval, 0) AS uv
        |       FROM sj s
        |       JOIN hmap lo ON lo.hh = substr(s.hx, CAST(4*s.j + 1 AS INT), 2)
        |       LEFT JOIN hmap hi ON 2*s.j + 1 < s.n AND hi.hh = substr(s.hx, CAST(4*s.j + 3 AS INT), 2)),
        |smp AS (SELECT doc_id, j, CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END AS s FROM sv),
        |w AS (SELECT doc_id, j, s, lag(s) OVER (PARTITION BY doc_id ORDER BY j) AS sp FROM smp),
        |f AS (SELECT doc_id, j // 32 AS frame_index, s, sp, j % 32 AS o FROM w)
        |SELECT doc_id, CAST(frame_index AS INT) AS frame_index,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS energy,
        |       CAST(coalesce(sum(CASE WHEN o <> 0 AND ((sp < 0) <> (s < 0)) THEN 1 END), 0) AS BIGINT) AS zero_crossings
        |FROM f GROUP BY 1, 2""".stripMargin,

    // NN resample 16k -> 8k: m = ceil(n/2) // 2 output frames, payload
    // is the canonical 44-byte header + 2m bytes
    "x_mm_audio_resample" ->
      """SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
        |       CAST(((octet_length(encode(coalesce(text, ''))) + 1) // 2) // 2 AS BIGINT) AS n_frames,
        |       CAST(44 + 2 * (((octet_length(encode(coalesce(text, ''))) + 1) // 2) // 2) AS BIGINT) AS out_bytes
        |FROM documents""".stripMargin,

    // audio aHash: energy per 60 sample-windows (step = max(1, ns div
    // 60), samples past 60*step ignored), bit i iff energy > mean of
    // present windows (strict, exact-integer doubles both engines);
    // pairs are the full all-pairs Hamming set (uncapped pigeonhole
    // config is recall-exact)
    "x_mm_audio_fp_dedup" ->
      """WITH hmap AS (SELECT i AS bval, printf('%02x', i) AS hh FROM range(0, 256) t(i)),
        |d AS (SELECT doc_id, lower(hex(encode(coalesce(text, '')))) AS hx,
        |             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n
        |      FROM documents WHERE doc_id < 400),
        |ns AS (SELECT doc_id, hx, n, (n + 1) // 2 AS ns,
        |              greatest(((n + 1) // 2) // 60, 1) AS step FROM d),
        |sj AS (SELECT doc_id, hx, n, unnest(range(0, ns)) AS j FROM ns),
        |sv AS (SELECT s.doc_id, s.j, lo.bval + 256 * coalesce(hi.bval, 0) AS uv
        |       FROM sj s
        |       JOIN hmap lo ON lo.hh = substr(s.hx, CAST(4*s.j + 1 AS INT), 2)
        |       LEFT JOIN hmap hi ON 2*s.j + 1 < s.n AND hi.hh = substr(s.hx, CAST(4*s.j + 3 AS INT), 2)),
        |smp AS (SELECT doc_id, j, CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END AS s FROM sv),
        |e AS (SELECT smp.doc_id, smp.j // ns.step AS i,
        |             CAST(sum(CAST(smp.s AS BIGINT) * smp.s) AS BIGINT) AS e
        |      FROM smp JOIN ns USING (doc_id)
        |      WHERE smp.j // ns.step < 60 GROUP BY 1, 2),
        |m AS (SELECT doc_id, CAST(sum(e) AS DOUBLE) / count(*) AS mean FROM e GROUP BY 1),
        |fp0 AS (SELECT e.doc_id,
        |          CAST(sum(CASE WHEN CAST(e.e AS DOUBLE) > m.mean THEN CAST(1 AS BIGINT) << CAST(e.i AS INT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS f
        |        FROM e JOIN m ON e.doc_id = m.doc_id GROUP BY 1),
        |fp AS (SELECT d.doc_id, coalesce(fp0.f, 0) AS f FROM d LEFT JOIN fp0 ON d.doc_id = fp0.doc_id),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.f, b.f)) AS hamming
        |      FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM p WHERE hamming <= 4""".stripMargin,

    // REAL video meta: container size = 224 + 152*frames at the 8x6
    // fixture geometry (RIFF + hdrl(avih,strl(strh,strf)) + movi),
    // frames = clamp(ceil(n/144), 1, 8) — pure length arithmetic
    "x_mm_video_meta" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n FROM documents),
        |v AS (SELECT doc_id, n, greatest(1, least(8, (n + 143) // 144)) AS nf FROM d)
        |SELECT doc_id,
        |       CAST(224 + 152 * nf AS BIGINT) AS n_bytes,
        |       'avi' AS format,
        |       CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
        |       CAST(nf AS BIGINT) AS n_frames,
        |       CAST(40000 AS BIGINT) AS us_per_frame
        |FROM v""".stripMargin,

    // REAL video frame features: frame f's pixel p has BGR bytes at
    // text offsets f*144 + 3p .. +2 (zero past the end), luma =
    // (299r + 587g + 114b) div 1000. The replay explodes to FRAME rows
    // only (<= 8/doc): each frame slices its 288 hex chars, rpad's with
    // '0' (hex nibble 0 == the byte-level zero fill), and one
    // list_transform computes the 48 pixel lumas from inline nibble
    // arithmetic — the per-BYTE unnest + 256-row lookup this replaces
    // materialized rows carrying the whole hex string per byte and
    // blew the dup-heavy 10x replay budget.
    "x_mm_video_features" -> {
      def nib(i: String) =
        s"(CASE WHEN ascii(substr(fhx, CAST($i AS INT), 1)) >= 97 THEN ascii(substr(fhx, CAST($i AS INT), 1)) - 87 ELSE ascii(substr(fhx, CAST($i AS INT), 1)) - 48 END)"
      def byteAt(c1: String, c2: String) = s"(${nib(c1)} * 16 + ${nib(c2)})"
      s"""WITH d AS (SELECT doc_id, lower(hex(encode(coalesce(text, '')))) AS hx,
         |             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n FROM documents),
         |v AS (SELECT doc_id, hx, n, greatest(1, least(8, (n + 143) // 144)) AS nf FROM d),
         |fr AS (SELECT doc_id, hx, unnest(range(0, nf)) AS f FROM v),
         |fx AS (SELECT doc_id, CAST(f AS INT) AS frame_index,
         |         rpad(substr(hx, CAST(f * 288 + 1 AS INT), 288), 288, '0') AS fhx FROM fr),
         |lu AS (SELECT doc_id, frame_index,
         |         list_transform(range(0, 48), p ->
         |           (299 * ${byteAt("6*p+5", "6*p+6")}
         |          + 587 * ${byteAt("6*p+3", "6*p+4")}
         |          + 114 * ${byteAt("6*p+1", "6*p+2")}) // 1000) AS lumas
         |       FROM fx)
         |SELECT doc_id, frame_index,
         |       CAST(48 AS BIGINT) AS n_pixels,
         |       CAST(list_sum(lumas) AS BIGINT) AS sum_luma,
         |       CAST(list_sum(lumas) // 48 AS BIGINT) AS mean_luma
         |FROM lu""".stripMargin
    },

    // MJPEG meta: container facts only — the JPEG payload bytes are
    // encoder-dependent, the geometry/count/timing are not (frames =
    // the aviPayload clamp, decoded and counted from movi)
    "x_mm_video_mjpeg" ->
      """WITH d AS (SELECT doc_id, CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n
        |           FROM documents WHERE doc_id < 2000),
        |v AS (SELECT doc_id, greatest(1, least(8, (n + 143) // 144)) AS nf FROM d)
        |SELECT doc_id, 'mjpeg' AS format,
        |       CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
        |       CAST(nf AS BIGINT) AS n_frames,
        |       CAST(40000 AS BIGINT) AS us_per_frame
        |FROM v""".stripMargin,

    // video aHash: 60 windows of step = max(1, (nf*48) div 60) lumas;
    // every present window holds exactly step lumas, so the threshold
    // is the exact integer comparison s_i * present > total (strict);
    // pairs are the full all-pairs Hamming set
    "x_mm_video_fp_dedup" ->
      """WITH hmap AS (SELECT i AS bval, printf('%02x', i) AS hh FROM range(0, 256) t(i)),
        |d AS (SELECT doc_id, lower(hex(encode(coalesce(text, '')))) AS hx,
        |             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n
        |      FROM documents WHERE doc_id < 400),
        |v AS (SELECT doc_id, hx, n, greatest(1, least(8, (n + 143) // 144)) AS nf FROM d),
        |grid AS (SELECT doc_id, hx, n, nf, unnest(range(0, nf * 144)) AS k FROM v),
        |b AS (SELECT g.doc_id, g.nf, g.k,
        |        CAST(CASE WHEN g.k < g.n THEN hmap.bval ELSE 0 END AS BIGINT) AS bv
        |      FROM grid g
        |      LEFT JOIN hmap ON g.k < g.n AND hmap.hh = substr(g.hx, CAST(2*g.k + 1 AS INT), 2)),
        |pix AS (SELECT doc_id, nf, k // 3 AS p,
        |          CAST(sum(CASE WHEN k % 3 = 0 THEN bv END) AS BIGINT) AS cb,
        |          CAST(sum(CASE WHEN k % 3 = 1 THEN bv END) AS BIGINT) AS cg,
        |          CAST(sum(CASE WHEN k % 3 = 2 THEN bv END) AS BIGINT) AS cr
        |        FROM b GROUP BY 1, 2, 3),
        |lu AS (SELECT doc_id, nf, p AS j,
        |         (299 * cr + 587 * cg + 114 * cb) // 1000 AS luma FROM pix),
        |st AS (SELECT doc_id, greatest(1, (nf * 48) // 60) AS step FROM v),
        |e AS (SELECT lu.doc_id, lu.j // st.step AS i, CAST(sum(lu.luma) AS BIGINT) AS s
        |      FROM lu JOIN st USING (doc_id)
        |      WHERE lu.j // st.step < 60 GROUP BY 1, 2),
        |m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS present,
        |             CAST(sum(s) AS BIGINT) AS total FROM e GROUP BY 1),
        |fp0 AS (SELECT e.doc_id,
        |          CAST(sum(CASE WHEN e.s * m.present > m.total THEN CAST(1 AS BIGINT) << CAST(e.i AS INT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS f
        |        FROM e JOIN m ON e.doc_id = m.doc_id GROUP BY 1),
        |fp AS (SELECT d.doc_id, coalesce(fp0.f, 0) AS f FROM d LEFT JOIN fp0 ON d.doc_id = fp0.doc_id),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.f, b.f)) AS hamming
        |      FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM p WHERE hamming <= 4""".stripMargin,

    // lower weighted median: smallest value whose cumulative weight
    // reaches half the total (same cum >= q*tot double comparison)
    "x_agg_wquantile" ->
      """WITH b AS (SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS v,
        |             CAST(l_linenumber AS BIGINT) AS w
        |           FROM lineitem
        |           WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL),
        |s AS (SELECT l_returnflag, v, CAST(sum(w) AS BIGINT) AS wv FROM b GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, v, wv,
        |        CAST(sum(wv) OVER (PARTITION BY l_returnflag ORDER BY v) AS BIGINT) AS cum,
        |        CAST(sum(wv) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
        |      FROM s)
        |SELECT l_returnflag, CAST(min(v) AS BIGINT) AS median_qty
        |FROM c WHERE CAST(cum AS DOUBLE) >= 0.5 * CAST(tot AS DOUBLE)
        |GROUP BY 1""".stripMargin,

    "x_agg_heavyhitters" ->
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |r AS (SELECT user_id, n, row_number() OVER (ORDER BY n DESC, user_id) AS rn FROM c)
        |SELECT CAST(rn AS INT) AS rank, user_id, n FROM r WHERE rn <= 10""".stripMargin,

    // the window form IS the oracle: identical (weight desc, value asc)
    // order contract as the bounded aggregate
    "x_agg_topk" ->
      """WITH per AS (SELECT event_type, user_id,
        |        CAST(sum(CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |      FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, cents,
        |        row_number() OVER (PARTITION BY event_type ORDER BY cents DESC, user_id) AS rank
        |      FROM per WHERE cents IS NOT NULL)
        |SELECT event_type, CAST(rank AS INT) AS rank, user_id, cents
        |FROM r WHERE rank <= 5""".stripMargin,
  )
}
