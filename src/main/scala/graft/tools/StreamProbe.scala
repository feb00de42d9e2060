package graft.tools

import org.apache.spark.sql.functions._

/** Streaming throughput probe (round-9 verdict #8; windowed-agg path +
  * state-over-time series added round 12): drives the stateful
  * streaming paths — sessionization via flatMapGroupsWithState, exact
  * dedup via dropDuplicatesWithinWatermark, and the watermarked
  * windowed aggregation — from a rate source at a configurable
  * rows/sec for a fixed wall duration, and reports SUSTAINED
  * throughput + state-store size from the engine's own
  * StreamingQueryProgress — the committed evidence that the streaming
  * family moves volume, not just that it is batch-equivalent
  * (StreamingSpec covers correctness). Measurement tooling only.
  *
  * The windowed-agg probe synthesizes EVENT time from the rate
  * source's row index (1 s of event time per row), so a 30 s wall run
  * crosses the 2 h watermark horizon thousands of times and the
  * per-progress state series shows eviction holding state flat — the
  * bounded-state property that makes the path viable at any volume.
  *
  * Usage: runMain graft.tools.StreamProbe [rowsPerSec] [seconds]
  * Defaults 20000 rows/s for 30 s per probe. Results print as
  * `[streamprobe]` lines; copy the row into SCALE.md.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val rate = args.headOption.map(_.toInt).getOrElse(20000)
    val secs = args.drop(1).headOption.map(_.toInt).getOrElse(30)
    val spark = graft.GraftSession(16)
    import spark.implicits._

    def rateEvents = spark.readStream.format("rate")
      .option("rowsPerSecond", rate).load()
      .select(col("timestamp").as("ts"),
        pmod(col("value"), lit(5000L)).as("user_id"),
        pmod(col("value"), lit(97L)).cast("double").as("value"))

    def runProbe(name: String, start: () => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val q = start()
      Thread.sleep(secs * 1000L)
      val progs = q.recentProgress.toSeq
      val input = progs.map(_.numInputRows).sum
      val stateSeries = progs.map(_.stateOperators.map(_.numRowsTotal).sum)
        .filter(_ > 0L)
      val stateRows = stateSeries.lastOption.getOrElse(0L)
      val stateSketch =
        if (stateSeries.isEmpty) "-"
        else s"${stateSeries.head},${stateSeries(stateSeries.size / 2)},${stateSeries.last}"
      val batches = progs.length
      val meanBatchMs =
        if (batches == 0) 0L
        else progs.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
          .sum / math.max(batches, 1)
      q.stop()
      println(f"[streamprobe] $name rate=$rate%d/s dur=${secs}s " +
        f"input=$input%d sustained=${input.toDouble / secs}%.0f rows/s " +
        f"state_rows=$stateRows%d state(first,mid,last)=$stateSketch " +
        f"batches=$batches%d mean_batch_ms=$meanBatchMs%d")
    }

    def ckpt() = java.nio.file.Files.createTempDirectory("streamprobe").toString

    // stateful sessionization: 5000 live user sessions in custom state
    runProbe("sessionize", () =>
      graft.streaming.Streams.sessionizeStream(
        rateEvents.select(col("user_id"), col("ts"), col("value"))
          .as[graft.streaming.Streams.SessionEvent], gapMinutes = 1)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt()).start())

    // watermarked exact dedup: key cycles every 100k rows, so state
    // holds <= 100k fingerprints within the watermark horizon and late
    // cycles are true duplicates being dropped
    runProbe("dedup", () =>
      graft.streaming.Streams.dedupEventsStream(
        spark.readStream.format("rate").option("rowsPerSecond", rate).load()
          .select(col("timestamp").as("ts"),
            pmod(col("value"), lit(100000L)).as("key")),
        keyCols = Seq("key"), tsCol = "ts", watermark = "10 minutes")
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt()).start())

    // watermarked windowed aggregation: EVENT time = 1 s per row, so
    // the 1 h windows roll over every `3600/rate` wall-seconds and the
    // 2 h watermark evicts them — open-window state stays at
    // ~3 windows x 5 types however long the stream runs
    runProbe("windowed_agg", () =>
      graft.streaming.Streams.windowedStream(
        spark.readStream.format("rate").option("rowsPerSecond", rate).load()
          .select(
            timestamp_seconds(lit(1704067200L) + col("value")).as("ts"),
            concat(lit("t"), pmod(col("value"), lit(5L))).as("event_type"),
            pmod(col("value"), lit(97L)).cast("double").as("value")),
        "1 hour", "2 hours")
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt()).start())

    spark.stop()
  }
}
