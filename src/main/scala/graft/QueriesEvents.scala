package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Rounding
import graft.streaming.Streams
import EntryShared._

/** [[SparkEntry]] slice: event analytics, streaming batch-equivalents, time series, layout.
  * Query lambdas and their DuckDB oracle mirrors live side by side;
  * the maps compose into the driver contract in [[SparkEntry]].
  * Determinism rules documented there apply to every entry.
  */
private[graft] object QueriesEvents {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Z-order layout audit: Morton-interleaved (partkey, suppkey) cut
    // into 16 Z-buckets — per bucket, the min/max rectangle on BOTH
    // keys (the file-skipping metadata a z-ordered write would yield);
    // one narrow projection + a 16-group aggregate
    "x_layout_zorder" -> ((s, d) =>
      graft.ops.Layout.zOrderLayoutAudit(T(s, d, "lineitem"),
        "l_partkey", "l_suppkey", bits = 16, bucketBits = 4)),

    "x_distinct_users" -> ((s, d) =>
      T(s, d, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))),

    // SCD-2: per-user event_type runs as validity intervals — change
    // points via lag, closed by lead, open-ended current row; two
    // user-partitioned windows, change-point-sized output
    "x_events_scd2" -> ((s, d) =>
      graft.ops.Cohorts.scd2Intervals(T(s, d, "events"),
        "user_id", "event_type", "ts", "event_id")),

    // monthly engagement: active days, MAU, avg DAU, and the DAU/MAU
    // stickiness ratio — two distinct aggregates, months-sized output
    "x_events_engagement" -> ((s, d) =>
      graft.ops.Cohorts.engagement(T(s, d, "events"), "user_id", "ts")),

    // cohort retention matrix: users grouped by first-seen month,
    // distinct-active counted per month offset — integer month index
    // (year*12 + month - 1) so both engines derive identical cohorts
    "x_events_retention" -> ((s, d) =>
      graft.ops.Cohorts.retentionMatrix(T(s, d, "events"), "user_id", "ts")),

    "x_events_props" -> ((s, d) =>
      T(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").try_cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"))),

    // Kaplan-Meier survival with right-censoring over a subject view
    // derived from orders (duration = custkey mod 25, event = 3 of 4):
    // exact integer survival product via the packed prefix fold —
    // what the retention matrix can't give once observation windows
    // differ
    "x_events_km" -> ((s, d) =>
      graft.ops.Cohorts.kaplanMeier(
        T(s, d, "orders").select(
          col("o_orderstatus").as("grp"),
          (col("o_custkey") % 25).as("dur"),
          (col("o_orderkey") % 4 =!= 0).as("ev")),
        "grp", "dur", "ev")),

    "x_events_topusers" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = T(s, d, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy(desc("n"), asc("user_id"))
      counts.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
    }),

    // --- §7.4 streaming (batch-equivalent plans) ---------------------
    "x_stream_window" -> ((s, d) =>
      T(s, d, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("event_type"), col("n_events"), col("value_cents"))),

    "x_stream_funnel" -> ((s, d) =>
      Streams.funnel(T(s, d, "events"), Seq("signup", "click", "purchase"))),

    "x_stream_sessions" -> ((s, d) =>
      Streams.sessionize(T(s, d, "events")
          .withColumn("value", floor(col("value") * 100 + 0.5).cast("long")), 30)
        .withColumnRenamed("value_sum", "value_cents")),

    // funnel latency: exact p50/p90/max seconds from click to purchase
    // over the attribution pairs — the gap-bounded seconds lattice
    // keeps the quantile window frame ≤ gap·60 rows
    "x_stream_ttc" -> ((s, d) =>
      Streams.timeToConvert(T(s, d, "events"), "click", "purchase",
        gapMinutes = 30)),

    // watermark-sizing audit: per-user event-time lag behind the
    // arrival-order running max; the summary counts what a 1m/5m/1h
    // watermark would drop — key-partitioned window, scalar epilogue
    "x_stream_disorder" -> ((s, d) =>
      Streams.disorderAudit(T(s, d, "events"), "user_id", "ts", "event_id")),

    "x_stream_dedup" -> ((s, d) =>
      Streams.dedupEvents(T(s, d, "events"), Seq("user_id", "event_type", "ts"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))),

    "x_stream_sliding" -> ((s, d) =>
      Streams.slidingCounts(T(s, d, "events"), "1 hour", "30 minutes")),

    "x_stream_attrib" -> ((s, d) =>
      Streams.attributionJoin(T(s, d, "events"), "click", "purchase", gapMinutes = 30)
        .groupBy("user_id").agg(count(lit(1)).as("n_attributed"))),

    // small-file compaction plan over a per-(source, band) manifest
    // (bytes = exact n_chars mass — a deterministic stand-in for file
    // sizes, derivable by both engines)
    "x_layout_compact" -> ((s, d) => {
      val man = T(s, d, "documents")
        .groupBy(col("source").as("dir"), expr("doc_id % 149").as("band"))
        .agg(sum(col("n_chars")).as("bytes"))
        .select(col("dir"),
          concat(lit("part-"), lpad(col("band").cast("string"), 4, "0")).as("path"),
          col("bytes"))
      graft.ops.Layout.compactionSummary(man, "dir", "path", "bytes",
        targetBytes = 2048L)
    }),

    // --- keyed time series (round-10) --------------------------------
    // daily resample per user with gap-fill + integer forward-fill:
    // every bucket between a user's first and last day, zero-count
    // gaps, last observed daily sum carried forward
    "x_ts_resample" -> ((s, d) =>
      graft.ops.TimeSeries.resampleGapFill(T(s, d, "events"),
        "user_id", "ts", "value", intervalSec = 86400L)),

    // per-user lag/delta/rolling features over the strictly-preceding
    // 5-event frame (leakage-safe: a feature computed at event time
    // never sees the event itself); micro-scaled exact longs
    "x_ts_features" -> ((s, d) =>
      graft.ops.TimeSeries.lagFeatures(T(s, d, "events"),
        "user_id", "ts", "event_id", "value", rollN = 5)),

    // rolling relative-deviation outlier flag: divisionless integer
    // inequality |v·n − Σv|·100 > pct·Σ|v| over the same frame
    "x_ts_anomaly" -> ((s, d) =>
      graft.ops.TimeSeries.rollingDeviation(T(s, d, "events"),
        "user_id", "ts", "event_id", "value",
        rollN = 5, thresholdPct = 200, minObs = 3)),

    // weekly seasonal profile per event type: one (key, dow) hash agg
    "x_ts_seasonal" -> ((s, d) =>
      graft.ops.TimeSeries.seasonalProfile(T(s, d, "events"),
        "event_type", "ts", "value")),

    // deseasonalized anomalies: each event vs its (user, weekday)
    // PEERS (leave-one-out baseline) — the window-free complement of
    // the rolling form above
    "x_ts_seasonal_anom" -> ((s, d) =>
      graft.ops.TimeSeries.seasonalAnomaly(T(s, d, "events"),
        "user_id", "ts", "event_id", "value",
        thresholdPct = 200, minObs = 3)),

    // volume-drift trend: exact integer OLS slope of daily event
    // counts per event type (x = day index, y = daily count) — the
    // "is this stream growing or dying" audit from one aggregate
    "x_ts_trend" -> ((s, d) => {
      val daily = T(s, d, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .select(col("event_type"), unix_micros(col("ts")).as("__us"))
        // floor-div (not Spark div) so pre-1970 timestamps bucket like
        // the oracle's `//` — same fix as resampleGapFill
        .withColumn("day",
          graft.ops.TimeSeries.floorDivEpochExpr("__us", 86400000000L))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("y"))
      graft.ops.Stats.groupTrend(daily, "event_type", "day", "y")
    }),

    // rolling 7-day distinct actives via mergeable KMV day sketches:
    // each day sketched ONCE, windows merged with array math — the
    // scale path for rolling WAU (an exact rolling distinct re-scans
    // every event windowDays times); merge losslessness is the gate
    "x_events_wau_kmv" -> ((s, d) =>
      graft.ops.Cohorts.rollingDistinctKmv(T(s, d, "events"),
        "ts", "user_id", windowDays = 7, k = 64)),

    // monthly actives + stickiness over the same mergeable day
    // sketches, beside the exact MAU with an in-band tolerance verdict
    // (within_tol) — the engagement report's 100 TB swap; the oracle
    // builds each month's sketch directly, so the hash gate doubles as
    // the day-to-month mergeability proof
    "x_events_mau_kmv" -> ((s, d) =>
      graft.ops.Cohorts.engagementKmv(T(s, d, "events"), "user_id", "ts",
        k = 64, tolMicro = 250000L)),

    // single-changepoint scan on daily event volume per type: the
    // "WHERE did it jump" complement of x_ts_trend's "is it moving" —
    // integer CUSUM-range argmax, segment means in micro
    "x_ts_changepoint" -> ((s, d) => {
      val daily = T(s, d, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .select(col("event_type"), unix_micros(col("ts")).as("__us"))
        .withColumn("day",
          graft.ops.TimeSeries.floorDivEpochExpr("__us", 86400000000L))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("y"))
      graft.ops.TimeSeries.changepointScan(daily, "event_type", "day", "y")
    }),

    // event path analysis: exact trigram-of-event-types table (bounded
    // by |types|³ — the full table IS summary-sized, no top-k needed)
    "x_events_paths" -> ((s, d) =>
      graft.ops.Cohorts.eventTrigrams(T(s, d, "events"))),

    // linear multi-touch attribution rolled up per user: every click
    // in the 30-min gap before a purchase shares 1e6 div n credit;
    // conservation holds up to the integer-div remainder
    "x_events_multitouch" -> ((s, d) =>
      graft.streaming.Streams.multiTouchCreditRollup(
        graft.streaming.Streams.multiTouchAttribution(
          T(s, d, "events"), "click", "purchase", gapMinutes = 30))),
  )

  val oracleSql: Map[String, String] = Map(

    "x_distinct_users" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1""".stripMargin,

    // Morton key: the closed form Σ (bitᵢ(x) + 2·bitᵢ(y))·4ⁱ — every
    // operand exact in double (≤ 2³²), so floor/power replay bitwise;
    // pmod-wrap mirrored as ((v % m) + m) % m
    "x_layout_zorder" ->
      """WITH m AS (SELECT l_partkey, l_suppkey,
        |    ((l_partkey % 65536) + 65536) % 65536 AS xb,
        |    ((l_suppkey % 65536) + 65536) % 65536 AS yb
        |  FROM lineitem),
        |z AS (SELECT l_partkey, l_suppkey,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 16), i ->
        |      CAST(((CAST(floor(xb / power(2.0, i)) AS BIGINT) % 2)
        |        + (CAST(floor(yb / power(2.0, i)) AS BIGINT) % 2) * 2)
        |        * CAST(power(4.0, i) AS BIGINT) AS BIGINT))), (a, b) -> a + b) AS zv
        |  FROM m)
        |SELECT CAST(floor(zv / 268435456) AS BIGINT) AS zbucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(l_partkey) AS BIGINT) AS min_l_partkey,
        |       CAST(max(l_partkey) AS BIGINT) AS max_l_partkey,
        |       CAST(min(l_suppkey) AS BIGINT) AS min_l_suppkey,
        |       CAST(max(l_suppkey) AS BIGINT) AS max_l_suppkey
        |FROM z GROUP BY 1""".stripMargin,

    "x_events_props" ->
      """SELECT event_type,
        |       CAST(count(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_k,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
        |       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
        |FROM events GROUP BY 1""".stripMargin,

    "x_events_topusers" ->
      """WITH g AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id ASC) AS rk FROM g)
        |SELECT event_type, user_id, n, CAST(rk AS INT) AS rank FROM r WHERE rk <= 3""".stripMargin,

    // Kaplan-Meier: suffix risk sums + the packed prefix-list fold —
    // every step exact BIGINT, same left-to-right order as the Spark
    // window collect
    "x_events_km" ->
      """WITH s AS (SELECT o_orderstatus AS grp, CAST(o_custkey % 25 AS BIGINT) AS t,
        |             o_orderkey % 4 <> 0 AS e
        |           FROM orders
        |           WHERE o_orderstatus IS NOT NULL AND o_custkey IS NOT NULL
        |             AND o_orderkey IS NOT NULL),
        |lat AS (SELECT grp, t,
        |          CAST(coalesce(sum(CASE WHEN e THEN 1 END), 0) AS BIGINT) AS n_events,
        |          CAST(coalesce(sum(CASE WHEN NOT e THEN 1 END), 0) AS BIGINT) AS n_censored
        |        FROM s GROUP BY 1, 2),
        |w AS (SELECT *,
        |        CAST(sum(n_events + n_censored) OVER (PARTITION BY grp ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
        |      FROM lat),
        |pre AS (SELECT *, list(n_risk * 2147483648 + n_events)
        |          OVER (PARTITION BY grp ORDER BY t ROWS UNBOUNDED PRECEDING) AS prefix
        |        FROM w)
        |SELECT grp AS "group", t, n_risk, n_events, n_censored,
        |       CAST((n_events * 1000000) // n_risk AS BIGINT) AS hazard_micro,
        |       CAST(list_reduce(list_prepend(CAST(1000000 AS BIGINT), prefix),
        |         (a, b) -> (a * (b // 2147483648 - b % 2147483648)) // (b // 2147483648)) AS BIGINT) AS survival_micro
        |FROM pre""".stripMargin,

    "x_stream_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    "x_stream_funnel" ->
      """WITH t0 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'signup' GROUP BY 1),
        |t1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN t0 ON e.user_id = t0.user_id
        |       WHERE e.event_type = 'click' AND e.ts > t0.t GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN t1 ON e.user_id = t1.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > t1.t GROUP BY 1)
        |SELECT CAST(1 AS INT) AS step_index, 'signup' AS step, CAST(count(*) AS BIGINT) AS n_users FROM t0
        |UNION ALL SELECT CAST(2 AS INT), 'click', CAST(count(*) AS BIGINT) FROM t1
        |UNION ALL SELECT CAST(3 AS INT), 'purchase', CAST(count(*) AS BIGINT) FROM t2""".stripMargin,

    "x_stream_sessions" ->
      """WITH e AS (SELECT user_id, ts, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM e),
        |f AS (SELECT *, CASE WHEN prev IS NULL OR (epoch_ms(ts) - epoch_ms(prev)) > 1800000 THEN 1 ELSE 0 END AS isnew FROM l),
        |s AS (SELECT *, sum(isnew) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_seq FROM f)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
        |       CAST(epoch_ms(max(ts)) AS BIGINT) AS session_end_ms,
        |       CAST(sum(cents) AS BIGINT) AS value_cents
        |FROM s GROUP BY 1, 2""".stripMargin,

    "x_stream_dedup" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT DISTINCT user_id, event_type, ts FROM events) GROUP BY 1""".stripMargin,

    // each event falls in exactly two 1h windows sliding by 30min: the
    // ones starting at the two half-hour boundaries within (ts-1h, ts]
    "x_stream_sliding" ->
      """WITH b AS (SELECT event_type, epoch_ms(ts) - (epoch_ms(ts) % 1800000) AS t30 FROM events),
        |u AS (SELECT event_type, unnest([t30, t30 - 1800000]) AS ws FROM b)
        |SELECT CAST(ws // 1000 AS BIGINT) AS window_start, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM u GROUP BY 1, 2""".stripMargin,

    // micros-floor gap arithmetic on both sides (see attributionJoin's
    // scaladoc on nanosecond-source precision)
    // SCD-2: same lag/lead change-point chain on epoch micros;
    // IS NOT DISTINCT FROM mirrors Spark's null-safe <=>
    "x_events_scd2" ->
      """WITH e AS (SELECT user_id, CAST(event_type AS VARCHAR) AS v,
        |             epoch_us(ts) AS us, event_id
        |           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT *, lag(v) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
        |      FROM e),
        |ch AS (SELECT user_id, v, us, event_id FROM c
        |       WHERE NOT (v IS NOT DISTINCT FROM prev))
        |SELECT user_id, v AS event_type,
        |       CAST(us AS BIGINT) AS valid_from_us,
        |       CAST(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS valid_to_us
        |FROM ch""".stripMargin,

    // engagement: exact calendar-integer day/month keys, two distinct
    // counts, halfUp-6 ratios of exact counts
    "x_events_engagement" ->
      s"""WITH e AS (SELECT user_id, CAST(year(ts) AS BIGINT) AS y,
         |             CAST(month(ts) AS BIGINT) AS m, CAST(day(ts) AS BIGINT) AS d
         |           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         |dau AS (SELECT y, m, d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
         |        FROM e GROUP BY 1, 2, 3),
         |mau AS (SELECT y, m, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
         |        FROM e GROUP BY 1, 2),
         |ds AS (SELECT y, m, CAST(count(*) AS BIGINT) AS n_days,
         |         CAST(sum(dau) AS BIGINT) AS sdau
         |       FROM dau GROUP BY 1, 2)
         |SELECT ds.y AS year, ds.m AS month, ds.n_days, mau.mau,
         |       ${Rounding.halfUpSql("CAST(sdau AS DOUBLE) / n_days", 6)} AS avg_dau,
         |       ${Rounding.halfUpSql("CAST(sdau AS DOUBLE) / (n_days * mau)", 6)} AS stickiness
         |FROM ds JOIN mau ON ds.y = mau.y AND ds.m = mau.m""".stripMargin,

    // retention: identical integer month math (year*12 + month - 1);
    // offset 0 carries each cohort's size
    "x_events_retention" ->
      """WITH e AS (SELECT user_id,
        |    CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT) AS m
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT user_id, min(m) AS cm FROM e GROUP BY 1)
        |SELECT CAST(floor(cm / 12) AS BIGINT) AS cohort_year,
        |       CAST(cm % 12 + 1 AS BIGINT) AS cohort_month,
        |       CAST(e.m - c.cm AS BIGINT) AS offset_months,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN c ON e.user_id = c.user_id
        |GROUP BY 1, 2, 3""".stripMargin,

    // ttc: the attribution pair deltas floored to seconds, then the
    // min-past-threshold quantile chain on the bounded lattice
    "x_stream_ttc" ->
      """WITH a AS (SELECT user_id, ts AS from_ts FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, ts AS to_ts FROM events WHERE event_type = 'purchase'),
        |p AS (SELECT CAST(floor(CAST(epoch_us(b.to_ts) - epoch_us(a.from_ts) AS DOUBLE) / 1000000.0) AS BIGINT) AS d
        |      FROM a JOIN b ON a.user_id = b.user_id
        |        AND epoch_us(b.to_ts) - epoch_us(a.from_ts) > 0
        |        AND epoch_us(b.to_ts) - epoch_us(a.from_ts) <= 1800000000),
        |c AS (SELECT d, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1),
        |w AS (SELECT *, sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum FROM c),
        |tt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM c)
        |SELECT n AS n_pairs,
        |       CAST(min(CASE WHEN cum * 2 >= n THEN d END) AS BIGINT) AS p50_s,
        |       CAST(min(CASE WHEN cum * 10 >= n * 9 THEN d END) AS BIGINT) AS p90_s,
        |       CAST(max(d) AS BIGINT) AS max_s
        |FROM w, tt GROUP BY n""".stripMargin,

    // disorder = lag behind the per-user arrival-order running max of
    // epoch_us (the unix_micros parity convention); thresholded counts
    "x_stream_disorder" ->
      """WITH d AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |w AS (SELECT greatest(0, coalesce(
        |         max(us) OVER (PARTITION BY user_id ORDER BY event_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us,
        |         0)) AS lag_us
        |      FROM d)
        |SELECT CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(coalesce(sum(CASE WHEN lag_us > 0 THEN 1 END), 0) AS BIGINT) AS n_out_of_order,
        |       CAST(max(lag_us) AS BIGINT) AS max_disorder_us,
        |       CAST(coalesce(sum(CASE WHEN lag_us > 60000000 THEN 1 END), 0) AS BIGINT) AS n_late_1m,
        |       CAST(coalesce(sum(CASE WHEN lag_us > 300000000 THEN 1 END), 0) AS BIGINT) AS n_late_5m,
        |       CAST(coalesce(sum(CASE WHEN lag_us > 3600000000 THEN 1 END), 0) AS BIGINT) AS n_late_1h
        |FROM w""".stripMargin,

    "x_stream_attrib" ->
      """WITH a AS (SELECT user_id, ts AS from_ts FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, ts AS to_ts FROM events WHERE event_type = 'purchase')
        |SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_attributed
        |FROM a JOIN b ON a.user_id = b.user_id
        |  AND epoch_us(b.to_ts) - epoch_us(a.from_ts) > 0
        |  AND epoch_us(b.to_ts) - epoch_us(a.from_ts) <= 1800000000
        |GROUP BY 1""".stripMargin,

    // compaction plan: dir-partitioned running byte offsets, integer
    // `//` binning, per-group rollup
    "x_layout_compact" ->
      """WITH m AS (SELECT CAST(source AS VARCHAR) AS dir, doc_id % 149 AS band,
        |             CAST(sum(n_chars) AS BIGINT) AS bytes
        |           FROM documents GROUP BY 1, 2),
        |f AS (SELECT dir, 'part-' || lpad(CAST(band AS VARCHAR), 4, '0') AS path, bytes FROM m),
        |w AS (SELECT *, CAST(sum(bytes) OVER (PARTITION BY dir ORDER BY path ROWS UNBOUNDED PRECEDING) - bytes AS BIGINT) AS st FROM f)
        |SELECT dir, CAST(st // 2048 AS BIGINT) AS group_id,
        |       CAST(count(*) AS BIGINT) AS n_files, CAST(sum(bytes) AS BIGINT) AS bytes,
        |       min(path) AS first_path, max(path) AS last_path
        |FROM w GROUP BY 1, 2""".stripMargin,

    // daily resample with gap-fill: lattice = range(lo, hi] per user,
    // forward-fill via the integer group-of-last-non-null identity
    // (count over preceding rows, then max within the group) — the
    // same formulation the Spark side uses, portable to any engine
    "x_ts_resample" ->
      """WITH base AS (SELECT user_id AS key, epoch_us(ts) // 86400000000 AS bucket,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |obs AS (SELECT key, bucket, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(vm) AS BIGINT) AS v_sum_micro FROM base GROUP BY 1, 2),
        |mm AS (SELECT key, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY 1),
        |lat AS (SELECT key, unnest(range(lo, hi + 1)) AS bucket FROM mm),
        |j AS (SELECT lat.key, lat.bucket,
        |        CAST(COALESCE(obs.n_events, 0) AS BIGINT) AS n_events, obs.v_sum_micro
        |      FROM lat LEFT JOIN obs ON lat.key = obs.key AND lat.bucket = obs.bucket),
        |g AS (SELECT *, count(v_sum_micro)
        |        OVER (PARTITION BY key ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS grp
        |      FROM j)
        |SELECT key, bucket, n_events, v_sum_micro,
        |       CAST(max(v_sum_micro) OVER (PARTITION BY key, grp) AS BIGINT) AS v_ffill_micro
        |FROM g""".stripMargin,

    // per-key lag/rolling features: strictly-preceding 5-row frame
    // ordered by the unique (us, event_id); sums CAST back to BIGINT
    "x_ts_features" ->
      """WITH base AS (SELECT user_id AS key, event_id AS id, epoch_us(ts) AS us,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT key, id, us, vm,
        |  lag(vm) OVER w AS lag_vm,
        |  vm - lag(vm) OVER w AS delta_vm,
        |  us - lag(us) OVER w AS gap_us,
        |  CAST(count(vm) OVER wr AS BIGINT) AS roll_n,
        |  CAST(sum(vm) OVER wr AS BIGINT) AS roll_sum,
        |  min(vm) OVER wr AS roll_min,
        |  max(vm) OVER wr AS roll_max
        |FROM base
        |WINDOW w AS (PARTITION BY key ORDER BY us, id),
        |  wr AS (PARTITION BY key ORDER BY us, id ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)""".stripMargin,

    // rolling deviation flag: the divisionless inequality replayed on
    // the identical frame; NULL dev on an empty frame, AND-false gates
    "x_ts_anomaly" ->
      """WITH base AS (SELECT user_id AS key, event_id AS id, epoch_us(ts) AS us,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |w AS (SELECT key, id, vm,
        |    CAST(count(vm) OVER wr AS BIGINT) AS roll_n,
        |    CAST(sum(vm) OVER wr AS BIGINT) AS roll_sum,
        |    CAST(sum(abs(vm)) OVER wr AS BIGINT) AS roll_abs_sum
        |  FROM base
        |  WINDOW wr AS (PARTITION BY key ORDER BY us, id ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        |SELECT key, id, vm, roll_n, roll_sum, roll_abs_sum,
        |  abs(vm * roll_n - roll_sum) * 100 AS dev100,
        |  COALESCE(roll_n >= 3 AND abs(vm * roll_n - roll_sum) * 100 > 200 * roll_abs_sum,
        |    FALSE) AS is_anomaly
        |FROM w""".stripMargin,

    // seasonal profile: the pmod weekday ((x%7+7)%7) over the floor-div
    // epoch day; mean sign-factored (Spark div truncates toward zero)
    "x_ts_seasonal" ->
      """WITH b AS (SELECT event_type AS key,
        |    ((epoch_us(ts) // 86400000000 + 3) % 7 + 7) % 7 AS dow,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |a AS (SELECT key, CAST(dow AS BIGINT) AS dow,
        |        CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(vm) AS BIGINT) AS sum_micro
        |      FROM b GROUP BY 1, 2)
        |SELECT key, dow, n, sum_micro,
        |       CASE WHEN sum_micro >= 0 THEN CAST(sum_micro // n AS BIGINT)
        |            ELSE CAST(-((-sum_micro) // n) AS BIGINT) END AS mean_micro
        |FROM a""".stripMargin,

    // seasonal anomalies: the leave-one-out peer baseline (n-1, s-v)
    // and the divisionless inequality, exactly the x_ts_anomaly form
    "x_ts_seasonal_anom" ->
      """WITH b AS (SELECT user_id AS key, event_id AS id,
        |    ((epoch_us(ts) // 86400000000 + 3) % 7 + 7) % 7 AS dow,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |p AS (SELECT key, dow, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(vm) AS BIGINT) AS s,
        |        CAST(sum(abs(vm)) AS BIGINT) AS a
        |      FROM b GROUP BY 1, 2)
        |SELECT b.key, b.id, CAST(b.dow AS BIGINT) AS dow, b.vm,
        |       p.n - 1 AS peer_n, p.s - b.vm AS peer_sum,
        |       CAST(abs(b.vm * (p.n - 1) - (p.s - b.vm)) * 100 AS BIGINT) AS dev100,
        |       COALESCE(p.n - 1 >= 3 AND
        |         abs(b.vm * (p.n - 1) - (p.s - b.vm)) * 100 > 200 * (p.a - abs(b.vm)),
        |         FALSE) AS is_anomaly
        |FROM b JOIN p ON b.key = p.key AND b.dow = p.dow""".stripMargin,

    // daily-volume OLS trend: exact integer moments; negative
    // numerators replay Spark's truncate-toward-zero div via the
    // sign-factored abs form (DuckDB's // floors — the documented
    // negative-division divergence)
    // rolling KMV distinct: the oracle builds each WINDOW's k-minimum
    // set directly (distinct day hashes joined over [day-6, day]) —
    // hash-matching the engine's merged per-day sketches IS the
    // cross-engine mergeability proof
    "x_events_wau_kmv" -> {
      val kk = 64
      val numer = (kk - 1).toLong * 2147483647L
      s"""WITH b AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |    ${kmvHashSqlOf("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |ne AS (SELECT day, CAST(count(*) AS BIGINT) AS n_events FROM b GROUP BY 1),
         |dh AS (SELECT DISTINCT day, h FROM b),
         |days AS (SELECT DISTINCT day FROM b),
         |u AS (SELECT DISTINCT days.day, dh.h
         |      FROM days JOIN dh ON dh.day BETWEEN days.day - 6 AND days.day),
         |r AS (SELECT day, h,
         |        row_number() OVER (PARTITION BY day ORDER BY h) AS rn,
         |        count(*) OVER (PARTITION BY day) AS nfull
         |      FROM u),
         |s AS (SELECT day, max(nfull) AS nfull,
         |        max(CASE WHEN rn = $kk THEN h END) AS tk
         |      FROM r WHERE rn <= $kk GROUP BY 1)
         |SELECT ne.day, ne.n_events,
         |  CAST(LEAST(s.nfull, $kk) AS BIGINT) AS n_kept,
         |  s.nfull < $kk AS exact,
         |  CAST(CASE WHEN s.nfull < $kk THEN s.nfull
         |       ELSE $numer // s.tk END AS BIGINT) AS est_distinct
         |FROM ne JOIN s USING (day)""".stripMargin
    },

    // mau_kmv: day estimates + the month's OWN k-minimum sketch (which
    // mergeability makes equal to the engine's merged day sketches);
    // micro numerators in HUGEINT (the DiD overflow rule), tolerance
    // verdict as the same integer compare
    "x_events_mau_kmv" -> {
      val kk = 64
      val numer = (kk - 1).toLong * 2147483647L
      val tol = 250000L
      s"""WITH b AS (SELECT CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m,
         |    CAST(day(ts) AS BIGINT) AS d, user_id,
         |    ${kmvHashSqlOf("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |dh AS (SELECT DISTINCT y, m, d, h FROM b),
         |dr AS (SELECT y, m, d, h, row_number() OVER (PARTITION BY y, m, d ORDER BY h) AS rn,
         |         count(*) OVER (PARTITION BY y, m, d) AS nfull FROM dh),
         |de AS (SELECT y, m, d, CASE WHEN max(nfull) < $kk THEN max(nfull)
         |         ELSE $numer // max(CASE WHEN rn = $kk THEN h END) END AS est_dau
         |       FROM dr WHERE rn <= $kk GROUP BY 1, 2, 3),
         |ds AS (SELECT y, m, CAST(count(*) AS BIGINT) AS n_days,
         |         CAST(sum(est_dau) AS HUGEINT) AS sdau FROM de GROUP BY 1, 2),
         |mh AS (SELECT DISTINCT y, m, h FROM b),
         |mr AS (SELECT y, m, h, row_number() OVER (PARTITION BY y, m ORDER BY h) AS rn,
         |         count(*) OVER (PARTITION BY y, m) AS nfull FROM mh),
         |ms AS (SELECT y, m, max(nfull) AS nfull, max(CASE WHEN rn = $kk THEN h END) AS tk
         |       FROM mr WHERE rn <= $kk GROUP BY 1, 2),
         |mau AS (SELECT y, m, CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM b GROUP BY 1, 2),
         |e AS (SELECT y, m, LEAST(nfull, $kk) AS n_kept, nfull < $kk AS exact,
         |        CASE WHEN nfull < $kk THEN nfull ELSE $numer // tk END AS est_mau
         |      FROM ms)
         |SELECT e.y AS year, e.m AS month, ds.n_days, mau.mau,
         |  CAST(e.est_mau AS BIGINT) AS est_mau,
         |  CAST(e.n_kept AS BIGINT) AS n_kept, e.exact,
         |  CAST((ds.sdau * 1000000) // ds.n_days AS BIGINT) AS est_avg_dau_micro,
         |  CASE WHEN e.est_mau > 0 THEN
         |    CAST((ds.sdau * 1000000) // (CAST(ds.n_days AS HUGEINT) * e.est_mau) AS BIGINT)
         |  END AS est_stickiness_micro,
         |  abs(CAST(e.est_mau AS HUGEINT) - mau.mau) * 1000000 <= CAST($tol AS HUGEINT) * mau.mau AS within_tol
         |FROM e JOIN ds ON e.y = ds.y AND e.m = ds.m
         |  JOIN mau ON e.y = mau.y AND e.m = mau.m""".stripMargin
    },

    // changepoint: the same daily CTE, per-key cumulative windows,
    // D = |S_t*N - t*S| ranked (D DESC, t ASC) — row 1 is the split
    "x_ts_changepoint" ->
      """WITH daily AS (SELECT event_type AS key, epoch_us(ts) // 86400000000 AS b,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |cum AS (SELECT key, b, x,
        |    row_number() OVER (PARTITION BY key ORDER BY b) AS t,
        |    sum(x) OVER (PARTITION BY key ORDER BY b ROWS UNBOUNDED PRECEDING) AS st,
        |    count(*) OVER (PARTITION BY key) AS n,
        |    sum(x) OVER (PARTITION BY key) AS s
        |  FROM daily),
        |sp AS (SELECT *, abs(st * n - t * s) AS d FROM cum WHERE t < n),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY d DESC, t ASC) AS rr
        |       FROM sp),
        |best AS (SELECT key, d, t, b, st FROM rk WHERE rr = 1),
        |tot AS (SELECT key, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
        |        FROM daily GROUP BY 1)
        |SELECT tot.key AS event_type, tot.n,
        |  CAST(best.d AS BIGINT) AS cusum_abs,
        |  CAST(best.b AS BIGINT) AS split_bucket,
        |  CAST(best.t AS BIGINT) AS n_before,
        |  CAST(tot.n - best.t AS BIGINT) AS n_after,
        |  CAST(CASE WHEN best.st < 0
        |       THEN -((-CAST(best.st AS HUGEINT) * 1000000) // best.t)
        |       ELSE (CAST(best.st AS HUGEINT) * 1000000) // best.t
        |       END AS BIGINT) AS mean_before_micro,
        |  CAST(CASE WHEN (tot.s - best.st) < 0
        |       THEN -((-CAST(tot.s - best.st AS HUGEINT) * 1000000) // (tot.n - best.t))
        |       ELSE (CAST(tot.s - best.st AS HUGEINT) * 1000000) // (tot.n - best.t)
        |       END AS BIGINT) AS mean_after_micro
        |FROM tot LEFT JOIN best USING (key)""".stripMargin,

    "x_ts_trend" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |m AS (SELECT event_type AS "group", CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(day) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(day * y) AS BIGINT) AS sxy, CAST(sum(day * day) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM daily GROUP BY 1),
        |d AS (SELECT "group", n, sx, sy,
        |    n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
        |    n * syy - sy * sy AS ytot FROM m),
        |sl AS (SELECT *, CASE WHEN den <> 0 THEN
        |      CASE WHEN num >= 0 THEN (num * 1000000) // den
        |           ELSE -(((-num) * 1000000) // den) END END AS slope_micro
        |  FROM d),
        |ic AS (SELECT *, CASE WHEN den <> 0 THEN
        |      CASE WHEN sy * 1000000 - slope_micro * sx >= 0
        |           THEN (sy * 1000000 - slope_micro * sx) // n
        |           ELSE -((-(sy * 1000000 - slope_micro * sx)) // n) END END AS intercept_micro
        |  FROM sl)
        |SELECT "group", n, CAST(slope_micro AS BIGINT) AS slope_micro,
        |  CAST(intercept_micro AS BIGINT) AS intercept_micro,
        |  CASE WHEN den <> 0 AND ytot <> 0 THEN
        |    floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
        |      / (CAST(den AS DOUBLE) * CAST(ytot AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
        |  END AS r2
        |FROM ic""".stripMargin,

    // event-type trigrams: lead windows ordered by (epoch_us, id) —
    // micro-floored time so nano-vs-micro tie order can't diverge
    "x_events_paths" ->
      """WITH s AS (SELECT event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1, 2, 3""".stripMargin,

    // linear multi-touch: the attribution pair join + a per-conversion
    // count window, integer credit split
    "x_events_multitouch" ->
      """WITH l AS (SELECT user_id, event_id AS from_id, epoch_us(ts) AS fus
        |  FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id AS ru, event_id AS to_id, epoch_us(ts) AS tus
        |  FROM events WHERE event_type = 'purchase'),
        |p AS (SELECT l.user_id, from_id, to_id FROM l JOIN r
        |      ON l.user_id = r.ru AND tus - fus > 0 AND tus - fus <= 1800000000),
        |n AS (SELECT *, CAST(count(*) OVER (PARTITION BY to_id) AS BIGINT) AS n_touches
        |      FROM p)
        |SELECT user_id, CAST(count(DISTINCT to_id) AS BIGINT) AS n_conversions,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(1000000 // n_touches) AS BIGINT) AS credit_sum_micro,
        |       max(n_touches) AS max_touches
        |FROM n GROUP BY 1""".stripMargin,
  )
}
