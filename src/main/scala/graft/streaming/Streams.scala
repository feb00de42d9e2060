package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming operators over the events table (SURVEY.md §7.4; the
  * reference itself has no streaming — §2.5 — these are charter
  * extensions). Each transform is written against a plain DataFrame so
  * the SAME code runs in batch (for the oracle) and on a
  * `spark.readStream` source (Structured Streaming plans the identical
  * logical operators incrementally).
  */
object Streams {

  /** Tumbling-window aggregation: per (window, event_type) count +
    * value sum, watermarked and append-mode-compatible on a stream (on
    * a batch frame the watermark is a no-op). */
  def windowedStream(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))

  /** Sliding-window aggregation: windows of `windowLen` advancing every
    * `slide` (e.g. hourly totals refreshed every 15 min). Spark expands
    * each event into windowLen/slide windows inside the same hash
    * aggregate — no self-join.
    */
  def slidingCounts(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"))

  /** Out-of-orderness audit — the measurement that SIZES a watermark.
    * Every streaming-state operator here (windowed aggs, dedup,
    * sessionization, the stream-stream join) trades completeness
    * against state via its watermark; picking one without measuring
    * the source's actual disorder is a guess that silently drops late
    * events. Per event, disorder = how far its event time lags the
    * maximum event time already ARRIVED on the same key (arrival order
    * = `arrivalCol`, e.g. the ingest sequence id); the one-row summary
    * reports how many events a 1-minute / 5-minute / 1-hour watermark
    * would have dropped, plus the max lag — read it and set the
    * watermark at the tail you're willing to lose.
    *
    * Scale: one key-partitioned running-max window (arrival-ordered
    * within key — never a global sort) + one scalar aggregate.
    */
  def disorderAudit(
      events: DataFrame, keyCol: String, tsCol: String,
      arrivalCol: String): DataFrame = {
    val k = graft.ops.Cleaning.qcol(keyCol)
    val w = Window.partitionBy(k)
      .orderBy(graft.ops.Cleaning.qcol(arrivalCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val us = unix_micros(graft.ops.Cleaning.qcol(tsCol))
    val lag = greatest(lit(0L), coalesce(max(us).over(w) - us, lit(0L)))
    events.select(lag.as("__d"))
      .agg(
        count(lit(1)).as("n_events"),
        coalesce(sum(when(col("__d") > 0, 1L)), lit(0L)).as("n_out_of_order"),
        max(col("__d")).as("max_disorder_us"),
        coalesce(sum(when(col("__d") > 60000000L, 1L)), lit(0L)).as("n_late_1m"),
        coalesce(sum(when(col("__d") > 300000000L, 1L)), lit(0L)).as("n_late_5m"),
        coalesce(sum(when(col("__d") > 3600000000L, 1L)), lit(0L)).as("n_late_1h"))
  }

  /** Exact event dedup, batch form: one row per distinct key tuple.
    * (At-least-once sources — Kafka, retried ingests — make this the
    * first stage of every production event pipeline.)
    */
  def dedupEvents(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events.dropDuplicates(keyCols)

  /** Exact event dedup, streaming form: state is bounded by the
    * watermark horizon (a duplicate arriving later than `watermark`
    * after the original is not caught — the standard trade).
    */
  def dedupEventsStream(events: DataFrame, keyCols: Seq[String],
      tsCol: String = "ts", watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Batch sessionization: a session breaks after `gapMinutes` of user
    * inactivity. Pure window functions (lag + running conditional sum),
    * fully distributed by user — the batch oracle for the stateful
    * streaming form below.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    // gap math in epoch milliseconds: second-truncation would make the
    // engine and the SQL oracle disagree on gaps straddling the boundary
    val gapMs = gapMinutes * 60000L
    val prevTs = lag(col("ts"), 1).over(byUser)
    val isNew = when(
      prevTs.isNull || (unix_millis(col("ts")) - unix_millis(prevTs)) > gapMs,
      1L).otherwise(0L)
    events
      .withColumn("session_seq",
        sum(isNew).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        unix_millis(min(col("ts"))).as("session_start_ms"),
        unix_millis(max(col("ts"))).as("session_end_ms"),
        sum(col("value")).as("value_sum"))
  }

  /** Ordered funnel analysis: how many users performed step 1, then
    * step 2 strictly after it, then step 3 after that, … Each stage is
    * "earliest qualifying event after the previous stage's time", the
    * standard product-analytics funnel.
    *
    * Scale: one filtered min-aggregation per step, joined on user_id —
    * every join key is the same (user_id), so the shuffles co-partition;
    * output is step-count rows.
    */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select(col("user_id"), col("event_type"), col("ts"))
    // fold: times(i) = per-user min ts of step i events AFTER times(i-1)
    val stageTimes: Seq[DataFrame] = steps.zipWithIndex.foldLeft(Seq.empty[DataFrame]) {
      case (acc, (step, i)) =>
        val t =
          if (i == 0)
            e.filter(col("event_type") === step)
              .groupBy("user_id").agg(min(col("ts")).as(s"t$i"))
          else
            e.filter(col("event_type") === step)
              .join(acc.last, "user_id")
              .filter(col("ts") > col(s"t${i - 1}"))
              .groupBy("user_id").agg(min(col("ts")).as(s"t$i"))
        acc :+ t
    }
    stageTimes.zip(steps).zipWithIndex.map { case ((t, step), i) =>
      t.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step_index"), lit(step).as("step"), col("n_users"))
    }.reduce(_.unionByName(_))
  }

  /** Attribution (interval) join: every `toType` event by the same user
    * within (0, gapMinutes] after a `fromType` event — click-to-purchase
    * attribution, the canonical stream-stream join. Batch form.
    *
    * The gap test is explicit MICROSECOND epoch arithmetic, not raw
    * timestamp comparison: the source parquet is nanosecond-precision,
    * Spark truncates to micros while DuckDB keeps nanos, so a raw
    * `to_ts <= from_ts + INTERVAL` would disagree on sub-microsecond
    * boundaries. Floored micros are identical in both engines.
    *
    * Scale: equi-join on user_id (co-partitioned shuffle) with the time
    * range as a post-join filter — never a time-only cross product.
    */
  def attributionJoin(
      events: DataFrame, fromType: String, toType: String,
      gapMinutes: Int = 30): DataFrame = {
    val l = events.filter(col("event_type") === fromType)
      .select(col("user_id"), col("ts").as("from_ts"))
    val r = events.filter(col("event_type") === toType)
      .select(col("user_id").as("__r_uid__"), col("ts").as("to_ts"))
    val du = unix_micros(col("to_ts")) - unix_micros(col("from_ts"))
    l.join(r,
        col("user_id") === col("__r_uid__") &&
          du > 0 && du <= gapMinutes * 60000000L)
      .select(col("user_id"), col("from_ts"), col("to_ts"))
  }

  /** Time-to-convert distribution over the [[attributionJoin]] pairs —
    * the funnel-latency read ("how long after a click does the
    * purchase land?") that sizes retargeting windows and the
    * attribution gap itself: n pairs, exact p50/p90, and max, in
    * SECONDS. Flooring deltas to seconds is what makes this
    * scale-exact: the value lattice is bounded by the gap (≤
    * gapMinutes·60 distinct values), so the quantile pass is a tie
    * aggregate + a window over a BOUNDED frame — never a sort of the
    * pair set. Quantiles use the inverted-CDF min-past-threshold
    * definition (the [[graft.ops.Stats.weightedQuantile]] contract).
    */
  def timeToConvert(
      events: DataFrame, fromType: String, toType: String,
      gapMinutes: Int = 30): DataFrame = {
    // the unpartitioned cumulative window below is safe ONLY because
    // the second-floored lattice is bounded by the gap itself
    // (attributionJoin keeps 0 < delta <= gapMinutes·60 s) — enforce
    // that bound statically so a pathological gap can't turn the
    // summary window into a corpus sort (stronger than an in-plan
    // guard: it fails at plan construction, not mid-job)
    require(gapMinutes >= 1 && gapMinutes.toLong * 60L <= 10000000L,
      s"timeToConvert: gapMinutes=$gapMinutes puts more than 1e7 distinct " +
        "second buckets under one cumulative window — widen the floor unit")
    val pairs = attributionJoin(events, fromType, toType, gapMinutes)
    val deltaS = floor((unix_micros(col("to_ts")) - unix_micros(col("from_ts")))
      .cast("double") / 1000000.0).cast("long")
    val counts = pairs.select(deltaS.as("__d"))
      .groupBy(col("__d")).agg(count(lit(1)).as("__c"))
    val w = Window.orderBy(col("__d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("__cum", sum(col("__c")).over(w))
    val tot = counts.agg(coalesce(sum(col("__c")), lit(0L)).as("__n"))
    cum.crossJoin(broadcast(tot))
      .agg(
        first(col("__n")).as("n_pairs"),
        min(when(col("__cum") * 2 >= col("__n"), col("__d"))).as("p50_s"),
        min(when(col("__cum") * 10 >= col("__n") * 9, col("__d"))).as("p90_s"),
        max(col("__d")).as("max_s"))
  }

  /** Linear MULTI-touch attribution over the [[attributionJoin]]
    * pairs: every touch (`fromType` event) inside the gap before a
    * conversion (`toType` event) shares the conversion's credit
    * equally — `credit_micro = 1e6 div n_touches` — instead of
    * last-touch's winner-take-all. One row per (touch, conversion)
    * pair with the touch count and integer credit; conservation holds
    * up to the integer-div remainder (sum of a conversion's credits ∈
    * (1e6 − n, 1e6]).
    *
    * Scale: the same user-keyed equi-join as [[attributionJoin]], then
    * a window PARTITIONED BY THE CONVERSION id — a frame bounded by
    * the touches inside one gap window, never global.
    */
  def multiTouchAttribution(
      events: DataFrame, fromType: String, toType: String,
      gapMinutes: Int = 30): DataFrame = {
    val l = events.filter(col("event_type") === fromType)
      .select(col("user_id"), col("event_id").as("from_id"), col("ts").as("from_ts"))
    val r = events.filter(col("event_type") === toType)
      .select(col("user_id").as("__r_uid__"), col("event_id").as("to_id"),
        col("ts").as("to_ts"))
    val du = unix_micros(col("to_ts")) - unix_micros(col("from_ts"))
    val pairs = l.join(r,
        col("user_id") === col("__r_uid__") &&
          du > 0 && du <= gapMinutes * 60000000L)
      .select(col("user_id"), col("from_id"), col("to_id"))
    val w = Window.partitionBy(col("to_id"))
    pairs
      .withColumn("n_touches", count(lit(1)).over(w))
      .withColumn("credit_micro", expr("1000000L div n_touches"))
  }

  /** Per-user rollup of the [[multiTouchAttribution]] pair table — the
    * report epilogue a marketing pipeline reads: conversions touched,
    * pair count, total credited micro-mass, and the widest touch set.
    * A library call (not an inline epilogue) because every multi-touch
    * consumer ends in exactly this shape.
    *
    * Scale: ONE user-keyed hash aggregate over the pair table
    * (count-distinct adds its standard two-phase expand).
    */
  def multiTouchCreditRollup(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("user_id"))
      .agg(countDistinct(col("to_id")).as("n_conversions"),
        count(lit(1)).as("n_pairs"),
        sum(col("credit_micro")).as("credit_sum_micro"),
        max(col("n_touches")).as("max_touches"))

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, session_start: Long, session_end: Long,
      n_events: Long, value_sum: Double)

  /** Stateful streaming sessionization via mapGroupsWithState-style
    * custom state (flatMapGroupsWithState, processing-time timeout):
    * emits a session when the inactivity gap passes. The batch
    * `sessionize` above is its oracle.
    */
  def sessionizeStream(events: Dataset[SessionEvent], gapMinutes: Int = 30): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .groupByKey(_.user_id)
      // NoTimeout: sessions close when a later event arrives past the gap.
      // (Declaring ProcessingTimeTimeout without arming timers makes the
      // no-data trigger loop spin state-store microbatches continuously.)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[SessionEvent], state: GroupState[List[SessionState]]) =>
          val sorted = it.toSeq.sortBy(_.ts.getTime)
          var sessions = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer[SessionOut]()
          sorted.foreach { e =>
            val t = e.ts.getTime
            sessions match {
              case cur :: rest if t - cur.last <= gapMs =>
                sessions = cur.copy(last = t, n = cur.n + 1, sum = cur.sum + e.value) :: rest
              case cur :: rest =>
                out += SessionOut(userId, cur.start / 1000, cur.last / 1000, cur.n, cur.sum)
                sessions = SessionState(t, t, 1, e.value) :: rest
              case Nil =>
                sessions = SessionState(t, t, 1, e.value) :: Nil
            }
          }
          state.update(sessions)
          out.iterator
      }
  }
}
