package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class StreamsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  private def events = Seq(
    (1L, ts(0), "click", 1.0), (1L, ts(10), "click", 2.0),
    (1L, ts(55), "view", 4.0), // 45min gap → new session
    (2L, ts(5), "click", 8.0)
  ).toDF("user_id", "ts", "event_type", "value")
    .withColumn("event_id", monotonically_increasing_id())
    .withColumn("props", lit("{}"))

  test("disorderAudit: per-key lag vs arrival order, thresholded drop counts") {
    // arrival order = event_id; user 1 arrives 10:00, 10:20, then 10:05
    // (15 min late), then 10:18 (2 min late); user 2 is in order. A lag
    // EXACTLY at a threshold would not drop (watermark keeps the edge).
    val df = Seq(
      (1L, 1L, ts(0)), (2L, 1L, ts(20)), (3L, 1L, ts(5)), (4L, 1L, ts(18)),
      (5L, 2L, ts(7)), (6L, 2L, ts(8))
    ).toDF("event_id", "user_id", "ts")
    val r = Streams.disorderAudit(df, "user_id", "ts", "event_id").head
    assert(r.getLong(0) == 6L)            // n_events
    assert(r.getLong(1) == 2L)            // the two late user-1 events
    assert(r.getLong(2) == 15L * 60000000L) // max lag 15 min in micros
    assert(r.getLong(3) == 2L)            // both lags exceed 1 min
    assert(r.getLong(4) == 1L)            // only the 15-min one exceeds 5 min
    assert(r.getLong(5) == 0L)            // nothing exceeds 1 h
  }

  test("timeToConvert: exact p50/p90 seconds on the gap-bounded lattice") {
    // user 1: click at 10:00, purchases at +2min, +10min, +20min
    val df = Seq(
      (1L, ts(0), "click", 0.0),
      (1L, ts(2), "purchase", 1.0),
      (1L, ts(10), "purchase", 1.0),
      (1L, ts(20), "purchase", 1.0),
      (2L, ts(5), "click", 0.0) // no purchase -> contributes nothing
    ).toDF("user_id", "ts", "event_type", "value")
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("props", lit("{}"))
    val r = Streams.timeToConvert(df, "click", "purchase", gapMinutes = 30).head
    // deltas: 120, 600, 1200 s -> p50 = 600 (cum 2*2 >= 3), p90 = 1200
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 600L, 1200L, 1200L)))
  }

  test("batch sessionization: 30-min gap splits sessions") {
    val got = Streams.sessionize(events, 30)
      .select("user_id", "session_seq", "n_events", "value_sum")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 1L, 2L, 3.0), (1L, 2L, 1L, 4.0), (2L, 1L, 1L, 8.0)))
  }

  test("windowed counts: tumbling hour per event_type") {
    val got = Streams.windowedStream(events, "1 hour")
      .select("event_type", "n_events", "value_sum")
      .as[(String, Long, Double)].collect().toSet
    assert(got == Set(("click", 3L, 11.0), ("view", 1L, 4.0)))
  }

  test("streaming windowed aggregation via MemoryStream (watermark + window)") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = Streams.windowedStream(df, "1 hour", "2 hours")
      .writeStream.outputMode("complete").format("memory").queryName("winout").start()
    try {
      mem.addData((1L, ts(1), "click", 1.0), (2L, ts(2), "click", 2.0), (1L, ts(59), "view", 5.0))
      q.processAllAvailable()
      val got = spark.table("winout")
        .select("event_type", "n_events", "value_sum")
        .as[(String, Long, Double)].collect().toSet
      assert(got == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("funnel: ordered steps require strictly-later events") {
    val ev = Seq(
      (1L, ts(0), "signup", 0.0), (1L, ts(5), "click", 0.0), (1L, ts(9), "purchase", 0.0),
      (2L, ts(0), "signup", 0.0), (2L, ts(3), "click", 0.0), // no purchase
      (3L, ts(5), "click", 0.0), (3L, ts(9), "signup", 0.0), // click BEFORE signup → stops at step 1
      (4L, ts(2), "purchase", 0.0) // purchase only → counts nowhere
    ).toDF("user_id", "ts", "event_type", "value")
    val got = Streams.funnel(ev, Seq("signup", "click", "purchase"))
      .select("step", "n_users").as[(String, Long)].collect().toMap
    assert(got == Map("signup" -> 3L, "click" -> 2L, "purchase" -> 1L))
  }

  test("file-source streaming: readStream over parquet dir matches the batch plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    events.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Streams.windowedStream(stream, "1 hour", "2 hours")
      .writeStream.outputMode("complete").format("memory").queryName("fileout").start()
    try {
      q.processAllAvailable()
      val got = spark.table("fileout")
        .select("event_type", "n_events", "value_sum")
        .as[(String, Long, Double)].collect().toSet
      val batch = Streams.windowedStream(events, "1 hour")
        .select("event_type", "n_events", "value_sum")
        .as[(String, Long, Double)].collect().toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming dedup drops within-watermark duplicates; batch form is DISTINCT") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("user_id", "ts", "event_type")
    val q = Streams.dedupEventsStream(df, Seq("user_id", "event_type", "ts"))
      .writeStream.outputMode("append").format("memory").queryName("dedupout").start()
    try {
      mem.addData((1L, ts(0), "click"), (1L, ts(0), "click"), (2L, ts(1), "view"))
      q.processAllAvailable()
      mem.addData((1L, ts(0), "click")) // late duplicate, still within watermark
      q.processAllAvailable()
      val got = spark.table("dedupout")
        .select("user_id", "event_type").as[(Long, String)].collect().toSeq
      assert(got.sorted == Seq((1L, "click"), (2L, "view")))
      // batch form: identical distinct key set
      val batch = Streams.dedupEvents(
        Seq((1L, ts(0), "click"), (1L, ts(0), "click"), (2L, ts(1), "view"))
          .toDF("user_id", "ts", "event_type"),
        Seq("user_id", "event_type", "ts")).count()
      assert(batch == 2L)
    } finally q.stop()
  }

  test("sliding windows: each event lands in windowLen/slide windows") {
    val one = Seq((1L, ts(10), "click", 1.0)).toDF("user_id", "ts", "event_type", "value")
    val got = Streams.slidingCounts(one, "1 hour", "15 minutes").collect()
    assert(got.length == 4) // 60/15 windows cover the event
    assert(got.forall(_.getLong(2) == 1L))
  }

  test("attributionJoin: purchases within the gap after a click, batch vs stream") {
    val ev = Seq(
      (1L, ts(0), "click", 0.0), (1L, ts(10), "purchase", 0.0),   // attributed
      (1L, ts(45), "purchase", 0.0),                              // outside 30min
      (2L, ts(5), "purchase", 0.0), (2L, ts(6), "click", 0.0),    // purchase BEFORE click
      (3L, ts(1), "click", 0.0), (3L, ts(2), "click", 0.0),
      (3L, ts(20), "purchase", 0.0)                               // matches BOTH clicks
    ).toDF("user_id", "ts", "event_type", "value")
    val batch = Streams.attributionJoin(ev, "click", "purchase", 30)
      .select("user_id").as[Long].collect().toSeq.sorted
    assert(batch == Seq(1L, 3L, 3L))

    // streaming form over the same data matches — fed as a MULTI-batch
    // sequence: all clicks arrive in batch 1, purchases only in batch 2
    // (plus one extra late click in batch 3 that lands between user 1's
    // click and attributed purchase). The stream-stream interval join
    // must hold click state across batches to attribute purchases it
    // sees later, and late rows within the watermark must still join.
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = Streams.attributionJoin(df.withWatermark("ts", "2 hours"), "click", "purchase", 30)
      .writeStream.outputMode("append").format("memory").queryName("attrout").start()
    try {
      val rows = ev.as[(Long, Timestamp, String, Double)].collect()
      mem.addData(rows.filter(_._3 == "click").toIndexedSeq: _*)
      q.processAllAvailable()
      assert(spark.table("attrout").isEmpty) // no purchases seen yet
      mem.addData(rows.filter(_._3 == "purchase").toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("attrout").select("user_id").as[Long].collect().toSeq.sorted
      assert(got == batch)
      // a LATE click (earlier event-time than everything in batch 2,
      // still inside the 2h watermark) must attribute user 1's ts(10)
      // purchase a second way: state was kept, late data still joins
      mem.addData((1L, ts(5), "click", 0.0))
      q.processAllAvailable()
      val got2 = spark.table("attrout").select("user_id").as[Long].collect().toSeq.sorted
      assert(got2 == (1L +: batch).sorted)
    } finally q.stop()
  }

  test("streaming incremental near-dedup: foreachBatch probes and grows the band index") {
    implicit val sc = spark.sqlContext
    import graft.scale.Dedup
    val good = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
    val unrelated = "completely different content about spark query engines shuffling data across many executors"
    val accepted0 = Seq((1L, good)).toDF("doc_id", "text")
    // the accept-loop state: persisted index frames, grown per batch
    // with each wave's survivors (production: parquet appends)
    var idxBuckets = Dedup.minhashBandIndex(accepted0, "doc_id", "text",
      k = 3, numHashes = 64, bands = 64).localCheckpoint()
    var idxSets = Dedup.hashedShingleTable(accepted0, "doc_id", "text", k = 3)
      .localCheckpoint()
    val survived = scala.collection.mutable.ArrayBuffer[Long]()

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val dups = Dedup.nearDupMinhashAgainstIndex(batch, idxBuckets, idxSets,
          "doc_id", "text", k = 3, numHashes = 64, bands = 64, threshold = 0.5)
        val keep = batch.join(dups.select(col("id_a").as("doc_id")), Seq("doc_id"), "left_anti")
          .localCheckpoint()
        survived ++= keep.select("doc_id").as[Long].collect()
        idxBuckets = idxBuckets.unionByName(
          Dedup.minhashBandIndex(keep, "doc_id", "text",
            k = 3, numHashes = 64, bands = 64)).localCheckpoint()
        idxSets = idxSets.unionByName(
          Dedup.hashedShingleTable(keep, "doc_id", "text", k = 3)).localCheckpoint()
        ()
      }
      .start()
    try {
      // batch 1: a near-dup of the accepted doc + a novel doc
      mem.addData((10L, good.replace("green", "dark")), (11L, unrelated))
      q.processAllAvailable()
      assert(survived.toSet == Set(11L), s"batch-1 survivors: $survived")
      // batch 2: a near-dup of batch-1 SURVIVOR 11 — only droppable if
      // the index grew with wave-1 survivors — plus a fresh novel doc
      mem.addData(
        (20L, unrelated.replace("many", "most")),
        (21L, "entirely new subject matter for the second delivery wave arriving later tonight"))
      q.processAllAvailable()
      assert(survived.toSet == Set(11L, 21L), s"batch-2 survivors: $survived")
    } finally q.stop()
  }

  test("streaming semantic-dedup accept loop: fixed loaded centroids, growing cell index") {
    import graft.scale.{Dedup, Models, Similarity}
    implicit val sc = spark.sqlContext
    // accepted corpus + a quantizer fitted ONCE and loaded from disk —
    // the centroids never refit mid-stream (a refit would shift cells
    // and silently lose cross-wave recall)
    val accepted0 = Seq((1L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-sem-stream").toString
    Models.saveCentroids(spark,
      Similarity.fitIvfCentroids(accepted0, "vec_id", "embedding", nlist = 1), dir)
    val cents = Models.loadCentroids(spark, dir)
    var index = Dedup.semanticCellIndex(accepted0, "vec_id", "embedding", cents)
      .localCheckpoint()
    val survived = scala.collection.mutable.ArrayBuffer[Long]()

    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val dups = Dedup.semanticDedupPairsAgainstIndex(batch, index,
          "vec_id", "embedding", cents, threshold = 0.9)
        val keep = batch.join(dups.select(col("id_a").as("vec_id")), Seq("vec_id"), "left_anti")
          .localCheckpoint()
        survived ++= keep.select("vec_id").as[Long].collect()
        index = index.unionByName(
          Dedup.semanticCellIndex(keep, "vec_id", "embedding", cents)).localCheckpoint()
        ()
      }
      .start()
    try {
      // wave 1: a near-dup of the accepted vector + a novel direction
      mem.addData((10L, Array(0.999f, 0.04f, 0f, 0f)), (11L, Array(0f, 1f, 0f, 0f)))
      q.processAllAvailable()
      assert(survived.toSet == Set(11L), s"wave-1 survivors: $survived")
      // wave 2: a near-dup of wave-1 SURVIVOR 11 (droppable only if the
      // index grew) + a fresh novel direction
      mem.addData((20L, Array(0.04f, 0.999f, 0f, 0f)), (21L, Array(0f, 0f, 1f, 0f)))
      q.processAllAvailable()
      assert(survived.toSet == Set(11L, 21L), s"wave-2 survivors: $survived")
    } finally q.stop()
  }

  test("stateful streaming sessionization matches the batch oracle on closed sessions") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Streams.SessionEvent]
    val q = Streams.sessionizeStream(mem.toDS(), 30)
      .writeStream.outputMode("append").format("memory").queryName("sessout").start()
    try {
      // batch 1: two events in one session; batch 2: an event 45min later
      // closes the first session and emits it
      mem.addData(Streams.SessionEvent(1L, ts(0), 1.0), Streams.SessionEvent(1L, ts(10), 2.0))
      q.processAllAvailable()
      mem.addData(Streams.SessionEvent(1L, ts(55), 4.0))
      q.processAllAvailable()
      val got = spark.table("sessout")
        .as[Streams.SessionOut].collect().toSet
      assert(got == Set(Streams.SessionOut(1L, ts(0).getTime / 1000, ts(10).getTime / 1000, 2L, 3.0)))
    } finally q.stop()
  }

  test("multiTouchAttribution: equal split per conversion, credit conserved up to div remainder") {
    def t(s: Int) = new Timestamp(s * 1000L)
    val ev = Seq(
      // user 1: three clicks then a purchase inside the gap
      (1L, t(10), 1L, "click"), (1L, t(20), 2L, "click"), (1L, t(30), 3L, "click"),
      (1L, t(60), 4L, "purchase"),
      // user 2: one click, one purchase; a second purchase outside the gap
      (2L, t(10), 5L, "click"), (2L, t(40), 6L, "purchase"),
      (2L, t(10000), 7L, "purchase")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Streams.multiTouchAttribution(ev, "click", "purchase", gapMinutes = 30)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      (1L, 4L) -> ((3L, 333333L)), (2L, 4L) -> ((3L, 333333L)), (3L, 4L) -> ((3L, 333333L)),
      (5L, 6L) -> ((1L, 1000000L))))
    // conservation: each conversion's credit sums into (1e6 - n, 1e6]
    val perConv = got.toSeq.groupBy(_._1._2).map { case (c, xs) => c -> xs.map(_._2._2).sum }
    assert(perConv(4L) === 999999L && perConv(6L) === 1000000L)
  }

  test("streaming domain tagging: assignToCentroids over a loaded model is a stateless stream map") {
    // fit on batch wave 1, persist; the STREAM of later vectors tags
    // against the loaded model — the stateless E-step at ingest time
    val wave1 = Seq(
      (1L, Array(0.0f, 0.0f), 0), (2L, Array(0.2f, 0.0f), 0),
      (3L, Array(10.0f, 0.0f), 1), (4L, Array(9.8f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft_cent_model").toString
    graft.scale.Embeddings.groupCentroids(wave1, "label", "embedding")
      .write.mode("overwrite").parquet(dir)
    val model = spark.read.parquet(dir)

    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val tagged = graft.scale.Embeddings.assignToCentroids(
      mem.toDF().toDF("vec_id", "embedding"), "embedding", model, "label")
    val q = tagged.writeStream.outputMode("append").format("memory")
      .queryName("tagout").start()
    try {
      mem.addData((10L, Array(0.5f, 0.1f)), (11L, Array(9.0f, -0.1f)), (12L, Array(1.0f, 0.0f)))
      q.processAllAvailable()
      val got = spark.table("tagout").select("vec_id", "assigned")
        .as[(Long, Int)].collect().toMap
      assert(got == Map(10L -> 0, 11L -> 1, 12L -> 0))
    } finally q.stop()
  }

  test("streaming span-dedup accept loop: growing span-frequency index masks cross-wave repeats") {
    import graft.scale.TextAnalysis
    implicit val sc = spark.sqlContext
    val licence = "this work is licensed under the terms below"
    // the accept-loop state: a span-frequency index grown per wave with
    // the wave's OWN spans (counts, never documents — production:
    // parquet appends + a periodic per-span_hash count compaction)
    var index = TextAnalysis.spanIndex(
      Seq((1L, licence)).toDF("doc_id", "text"), "doc_id", "text", w = 4)
      .localCheckpoint()
    val masked = scala.collection.mutable.Map[Long, (Long, String)]()

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = TextAnalysis.maskRepeatedSpansAgainstIndex(
          batch, index, "doc_id", "text", w = 4, minCount = 2).localCheckpoint()
        out.select("doc_id", "n_dup_spans", "clean_text")
          .as[(Long, Long, String)].collect()
          .foreach { case (id, nds, t) => masked(id) = (nds, t) }
        index = index.unionByName(TextAnalysis.spanIndex(batch, "doc_id", "text", w = 4))
          .groupBy("span_hash").agg(sum(col("n")).as("n")).localCheckpoint()
        ()
      }
      .start()
    try {
      // wave 1: repeats the licence seen by the seed index -> masked;
      // a novel doc passes untouched
      mem.addData(
        (10L, s"new article body $licence"),
        (11L, "original reporting with fresh words only"))
      q.processAllAvailable()
      assert(masked(10L)._1 > 0 && !masked(10L)._2.contains("licensed"))
      assert(masked(11L) == ((0L, "original reporting with fresh words only")))
      // wave 2: repeats wave-1's NOVEL doc — only maskable if the index
      // grew with wave-1 spans
      mem.addData((20L, "quoting original reporting with fresh words only verbatim"))
      q.processAllAvailable()
      assert(masked(20L)._1 > 0,
        s"wave-2 repeat of wave-1 content must mask, got ${masked(20L)}")
    } finally q.stop()
  }
}
