package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cohort/retention analytics over an event stream — the standard
  * product-analytics rollup (beyond-reference, SURVEY §7.4 events
  * family): users are grouped by the calendar month they FIRST
  * appeared (their cohort), and the matrix counts how many of each
  * cohort are still active k months later. The diagonal fade of that
  * matrix is the retention curve every growth dashboard plots.
  */
object Cohorts {

  /** Event path analysis — the top journeys a product-analytics team
    * reads after the funnel: per user, every consecutive TRIGRAM of
    * event types (ordered by the unique (ts, id) key), counted over
    * the corpus. The output is at most |event_types|³ rows, so no
    * top-k machinery is needed — the full exact table IS
    * summary-sized. Window functions, never a self-join: lead(1) and
    * lead(2) share one user-partitioned pass.
    *
    * Scale: ONE key-partitioned window + one hash aggregate onto a
    * bounded-cardinality key.
    */
  def eventTrigrams(
      events: DataFrame, userCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id", typeCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull && col(typeCol).isNotNull)
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol).as("e1"))
      .withColumn("e2", lead(col("e1"), 1).over(w))
      .withColumn("e3", lead(col("e1"), 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
  }

  /** SCD-2 interval build — collapse an event stream into the
    * slowly-changing-dimension form a warehouse serves: one row per
    * (key, value) RUN with its validity interval, instead of one row
    * per event. Consecutive events with the SAME value merge; a value
    * change closes the previous interval at the new event's timestamp
    * and opens the next; the latest interval per key stays open
    * (`valid_to_us` null) — the standard "current row" convention.
    * Ordering is (ts, arrival id) so simultaneous events resolve
    * deterministically; timestamps surface as epoch micros (the
    * engine-parity convention for event time).
    *
    * Scale: two key-partitioned windows (lag to find change points,
    * lead to close intervals) over the events of ONE key at a time —
    * never a global sort; output is change-point-sized, not
    * event-sized.
    */
  def scd2Intervals(
      events: DataFrame, keyCol: String, valueCol: String,
      tsCol: String, arrivalCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = Cleaning.qcol(keyCol)
    val ts = Cleaning.qcol(tsCol)
    val byTime = Window.partitionBy(col("__k"))
      .orderBy(col("__us"), col("__arr"))
    val e = events.filter(k.isNotNull && ts.isNotNull)
      .select(k.as("__k"),
        Cleaning.qcol(valueCol).cast("string").as("__v"),
        unix_micros(ts).as("__us"),
        Cleaning.qcol(arrivalCol).as("__arr"))
    val changes = e
      .withColumn("__prev", lag(col("__v"), 1).over(byTime))
      // null-safe: the first event is always a change point, and a
      // null value differs from a non-null previous (and vice versa)
      .filter(!(col("__v") <=> col("__prev")))
    changes
      .withColumn("__next_us", lead(col("__us"), 1).over(byTime))
      .select(col("__k").as(keyCol), col("__v").as(valueCol),
        col("__us").as("valid_from_us"), col("__next_us").as("valid_to_us"))
  }

  /** Monthly engagement summary — DAU/WAU/MAU's one-table form: per
    * calendar month, the active days, monthly actives (MAU), average
    * daily actives, and the DAU/MAU stickiness ratio every growth
    * report leads with. Calendar fields are exact integers, the two
    * ratios are single double divisions of exact counts (halfUp 6) —
    * engine-exact.
    *
    * Scale: one (day)-keyed distinct aggregate + one (month)-keyed
    * distinct aggregate; both shuffle user ids once, output is
    * months-sized. Swap `countDistinct` for the gated HLL at
    * cardinalities where exact distinct stops being worth it.
    */
  def engagement(
      events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val u = Cleaning.qcol(userCol)
    val ts = Cleaning.qcol(tsCol)
    val e = events.filter(u.isNotNull && ts.isNotNull)
      .select(u.as("__u"),
        year(ts).cast("long").as("__y"), month(ts).cast("long").as("__m"),
        dayofmonth(ts).cast("long").as("__d"))
    val dau = e.groupBy(col("__y"), col("__m"), col("__d"))
      .agg(countDistinct(col("__u")).as("__dau"))
    val mau = e.groupBy(col("__y"), col("__m"))
      .agg(countDistinct(col("__u")).as("mau"))
    dau.groupBy(col("__y"), col("__m"))
      .agg(count(lit(1)).as("n_days"), sum(col("__dau")).as("__sdau"))
      .join(mau, Seq("__y", "__m"))
      .select(
        col("__y").as("year"), col("__m").as("month"),
        col("n_days"), col("mau"),
        Rounding.halfUp(
          col("__sdau").cast("double") / col("n_days"), 6).as("avg_dau"),
        Rounding.halfUp(
          col("__sdau").cast("double") / (col("n_days") * col("mau")), 6)
          .as("stickiness"))
  }

  /** Retention matrix: one row per (cohort month, month offset) with
    * the distinct active users. Month index is the integer
    * `year·12 + month − 1` — pure integer arithmetic on calendar
    * fields, so any engine derives the identical cohort and offset (no
    * interval/day-count semantics, which differ across engines for
    * month math). Output: (cohort_year, cohort_month, offset_months,
    * n_users); offset 0 is each cohort's full size.
    *
    * Scale: one per-user min aggregate (shuffles user ids once), an
    * id-keyed join back (co-partitioned on the user key), and one
    * (cohort, offset)-keyed distinct-count — months × months groups,
    * summary-sized. For month counts beyond exact-distinct comfort,
    * swap the epilogue's `countDistinct` for the gated HLL
    * (`approx_count_distinct`, see [[Stats.approxDistinctGate]]) —
    * same frame, sketch state.
    */
  def retentionMatrix(
      events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val u = Cleaning.qcol(userCol)
    val ts = Cleaning.qcol(tsCol)
    val ev = events.filter(u.isNotNull && ts.isNotNull)
      .select(u.as("__u"), (year(ts) * 12 + month(ts) - 1).cast("long").as("__m"))
    val cohorts = ev.groupBy(col("__u")).agg(min(col("__m")).as("__c"))
    ev.join(cohorts, Seq("__u"))
      .groupBy(col("__c"), (col("__m") - col("__c")).as("offset_months"))
      .agg(countDistinct(col("__u")).as("n_users"))
      .select(
        floor(col("__c") / 12).cast("long").as("cohort_year"),
        (pmod(col("__c"), lit(12L)) + 1).cast("long").as("cohort_month"),
        col("offset_months"), col("n_users"))
  }

  /** Distinct-duration cap per group for [[kaplanMeier]] — a survival
    * CURVE is lattice-sized by definition; a group with more distinct
    * durations than this needs banding first (the weightedQuantile
    * rule). The guard rides IN-PLAN below the windows. */
  val MaxSurvivalTimes = 4096L

  /** Kaplan-Meier survival curve with right-censoring, per group —
    * what [[retentionMatrix]] cannot give you once observation windows
    * differ: a user who joined last week and is still active is
    * CENSORED at duration 7, not churned, and counting them as churned
    * biases every retention number down. Input: one row per SUBJECT
    * with an integral `duration` and an `event` flag (true = the
    * terminal event happened at `duration`; false = observation ended
    * there). Output per (group, t) over the distinct-duration lattice:
    * n_risk (subjects with duration ≥ t), n_events, n_censored,
    * hazard_micro = d·1e6 div n_risk, and survival_micro =
    * Π over t' ≤ t of (n_risk − d)/n_risk — the KM estimator.
    *
    * EXACT integer survival: the product folds left-to-right over the
    * prefix lattice as `s ← (s·(nr−d)) div nr` from s = 1e6 — every
    * step exact long arithmetic (s ≤ 1e6, nr < 2³¹ → the product
    * ≤ 2e15), so engines agree bitwise where a float product would
    * drift with order. Rows with d = 0 multiply by exactly nr/nr = 1
    * (a true no-op), so censor-only times can ride in the fold.
    * (nr, d) pack into one long (nr·2³¹ + d) so the prefix list is a
    * plain array<long> both engines fold identically.
    *
    * NULL rows (group, duration, or event) are dropped; a NEGATIVE
    * duration is a contract violation (it would silently distort every
    * later risk set) and raises loudly in-plan.
    *
    * Scale: ONE subject-level hash aggregate to the (group, duration)
    * lattice, two group-partitioned windows over lattice rows (suffix
    * risk sum + prefix pack list), one interpreted fold per LATTICE
    * row (≤ [[MaxSurvivalTimes]] by the in-plan guard — never
    * corpus-sized). Subjects shuffle once.
    */
  def kaplanMeier(
      df: DataFrame, groupCol: String, durationCol: String,
      eventCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = Cleaning.qcol(groupCol)
    val dur = Cleaning.qcol(durationCol).cast("long")
    val ev = Cleaning.qcol(eventCol).cast("boolean")
    val K = 2147483648L // 2^31: nr < 2^31 by the packing contract
    val lattice = df
      .filter(g.isNotNull && dur.isNotNull && ev.isNotNull)
      .select(g.as("group"),
        // negative durations are meaningless; fail loudly in-plan
        when(dur < 0L, raise_error(concat(
          lit("kaplanMeier: negative duration "), dur,
          lit(s" in '$durationCol'"))).cast("long")).otherwise(dur).as("t"),
        ev.as("__e"))
      .groupBy(col("group"), col("t"))
      .agg(
        coalesce(sum(when(col("__e"), 1L)), lit(0L)).as("n_events"),
        coalesce(sum(when(!col("__e"), 1L)), lit(0L)).as("n_censored"))
    val wAll = Window.partitionBy(col("group"))
    val wSuffix = Window.partitionBy(col("group")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wPrefix = Window.partitionBy(col("group")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    lattice
      // the lattice cap rides inside the consumed risk column, below
      // the windows (the ksDrift consumed-expression rule)
      .withColumn("n_risk",
        when(count(lit(1)).over(wAll) > MaxSurvivalTimes,
          raise_error(concat(
            lit(s"kaplanMeier: more than $MaxSurvivalTimes distinct durations " +
              "in a group — band the duration first ("),
            count(lit(1)).over(wAll), lit(" times)"))).cast("long"))
          .otherwise(sum(col("n_events") + col("n_censored")).over(wSuffix)))
      .withColumn("__pk", col("n_risk") * K + col("n_events"))
      .withColumn("__prefix", collect_list(col("__pk")).over(wPrefix))
      // the fold step s <- (s·(nr−d)) div nr in EXACT arithmetic: shift/
      // mask unpack (integer ops), and the division is the exact-double
      // trick (num − num mod nr is divisible, the quotient ≤ 1e6 and
      // the operands ≤ 2e15 < 2^53, so the double division is exact)
      .withColumn("survival_micro",
        aggregate(col("__prefix"), lit(1000000L), (acc, x) => {
          val nr = shiftright(x, 31)
          val d = x.bitwiseAND(lit(2147483647L))
          val num = acc * (nr - d)
          ((num - pmod(num, nr)) / nr).cast("long")
        }))
      .withColumn("hazard_micro", expr("(n_events * 1000000) div n_risk"))
      .select(col("group"), col("t"), col("n_risk"), col("n_events"),
        col("n_censored"), col("hazard_micro"), col("survival_micro"))
  }

  /** Rolling-window distinct actives via mergeable KMV sketches — the
    * scale path for rolling WAU/MAU that [[engagement]]'s exact
    * count(DISTINCT) form cannot take: an exact rolling distinct
    * re-scans every window (each event lands in `windowDays` windows),
    * while the KMV form sketches each DAY once (one k-bounded
    * aggregate — shuffle carries ≤ k longs per partition, the
    * [[graft.functions.Aggregates.KmvSketch]] contract) and merges
    * day sketches per window with array math. The KMV merge property
    * makes the merge LOSSLESS for the estimator: any hash among the k
    * smallest of the window union is among the k smallest of its own
    * day, so the k-slice of the merged day sketches IS the window's
    * own k-minimum set — the oracle computes the window sketch
    * directly and the two constructions hash-match, which is the
    * cross-engine proof of mergeability.
    *
    * Output per active day: (day, n_events, n_kept, exact,
    * est_distinct) — `exact` when the window held fewer than k
    * distinct ids (the sketch is then the complete set). Days with no
    * events contribute nothing and are absent (a gap narrows the
    * window to its observed days; resample upstream for a dense
    * grid).
    *
    * Scale: the day-keyed sketch aggregate does all data-sized work;
    * the rolling merge runs on the DAY lattice (grid-bounded — the
    * documented bounded-frame exception, ~4k rows for a decade of
    * days) under one global-ordered range window of k-sized arrays.
    */
  def rollingDistinctKmv(
      events: DataFrame, tsCol: String, idCol: String,
      windowDays: Int = 7, k: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowDays >= 1 && windowDays <= 370,
      s"rollingDistinctKmv: windowDays must be in [1, 370], got $windowDays")
    require(k >= 16 && k <= 65536,
      s"rollingDistinctKmv: k must be in [16, 65536], got $k")
    val numer = (k - 1).toLong * graft.functions.PortableHash.PolyMod
    val q = Cleaning.qcol _
    val base = events.filter(q(tsCol).isNotNull && q(idCol).isNotNull)
      .select(unix_micros(q(tsCol)).as("__us"),
        graft.functions.PortableHash.kmvHash31(q(idCol).cast("string")).as("__h"))
      .withColumn("day", TimeSeries.floorDivEpochExpr("__us", 86400000000L))
    val daily = base.groupBy(col("day")).agg(
      graft.functions.Aggregates.kmvSketch(col("__h"), k).as("sk"),
      count(lit(1)).as("n_events"))
    val w = Window.orderBy(col("day"))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    daily
      .withColumn("__merged",
        slice(array_sort(array_distinct(flatten(collect_list(col("sk")).over(w)))),
          1, k))
      .select(col("day"), col("n_events"),
        size(col("__merged")).cast("long").as("n_kept"),
        (size(col("__merged")) < k).as("exact"),
        when(size(col("__merged")) < k, size(col("__merged")).cast("long"))
          .otherwise(expr(s"${numer}L div element_at(__merged, $k)"))
          .as("est_distinct"))
  }

  /** Monthly engagement over mergeable KMV day sketches — the 100 TB
    * path for [[engagement]]'s DAU/MAU report, wired the
    * swap-is-one-call way: ONE day-keyed k-bounded sketch aggregate
    * does all data-sized work (shuffle carries ≤ k longs per (day,
    * partition)); the month's MAU sketch is then the k-slice of its
    * merged day sketches ([[rollingDistinctKmv]]'s lossless-merge
    * property: every hash among a month's k smallest is among its own
    * day's k smallest, so the merged slice IS the month's k-minimum
    * set — the DuckDB oracle builds the month sketch directly and the
    * hash gate is the cross-engine mergeability proof). Stickiness =
    * avg estimated DAU / estimated MAU, all in exact integer micro.
    *
    * The EXACT per-month distinct count rides beside the estimate with
    * an in-band tolerance verdict (`within_tol`: |est − exact| ≤
    * tolMicro·exact, integer compare) — the x_agg_hll_gate shape: an
    * estimator drift flips the boolean and the hash gate goes red. At
    * production scale drop the exact column (the one count(DISTINCT)
    * in the plan) and keep the sketch path; the default tolerance
    * (0.25 at k = 64's ~12.5% standard error, ~2 sigma) scales as
    * ~2/sqrt(k) if k moves.
    *
    * Micro numerators route through decimal(38): sum-of-day-estimates
    * × 1e6 can pass a long at large k (the sf1 DiD lesson).
    */
  def engagementKmv(
      events: DataFrame, idCol: String, tsCol: String,
      k: Int = 64, tolMicro: Long = 250000L): DataFrame = {
    require(k >= 16 && k <= 65536,
      s"engagementKmv: k must be in [16, 65536], got $k")
    require(tolMicro >= 0L, s"engagementKmv: tolMicro must be >= 0, got $tolMicro")
    val numer = (k - 1).toLong * graft.functions.PortableHash.PolyMod
    val q = Cleaning.qcol _
    val base = events.filter(q(tsCol).isNotNull && q(idCol).isNotNull)
      .select(year(q(tsCol)).cast("long").as("y"),
        month(q(tsCol)).cast("long").as("m"),
        dayofmonth(q(tsCol)).cast("long").as("d"),
        graft.functions.PortableHash.kmvHash31(q(idCol).cast("string")).as("__h"),
        q(idCol).as("__id"))
    val daily = base.groupBy(col("y"), col("m"), col("d"))
      .agg(graft.functions.Aggregates.kmvSketch(col("__h"), k).as("sk"))
      .withColumn("__est_dau",
        when(size(col("sk")) < k, size(col("sk")).cast("long"))
          .otherwise(expr(s"${numer}L div element_at(sk, $k)")))
    // months hold <= 31 day-sketch rows: the collect_list is bounded
    val monthly = daily.groupBy(col("y"), col("m"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("__est_dau")).as("__sdau"),
        slice(array_sort(array_distinct(flatten(collect_list(col("sk"))))), 1, k)
          .as("__msk"))
    val exactMau = base.groupBy(col("y"), col("m"))
      .agg(countDistinct(col("__id")).as("mau"))
    monthly.join(exactMau, Seq("y", "m"))
      .withColumn("n_kept", size(col("__msk")).cast("long"))
      .withColumn("exact", col("n_kept") < k)
      .withColumn("est_mau",
        when(col("exact"), col("n_kept"))
          .otherwise(expr(s"${numer}L div element_at(__msk, $k)")))
      .withColumn("est_avg_dau_micro",
        expr("CAST((CAST(__sdau AS DECIMAL(38,0)) * 1000000) div n_days AS BIGINT)"))
      .withColumn("est_stickiness_micro",
        when(col("est_mau") > 0L,
          expr("CAST((CAST(__sdau AS DECIMAL(38,0)) * 1000000) div " +
            "(CAST(n_days AS DECIMAL(38,0)) * est_mau) AS BIGINT)")))
      .withColumn("within_tol",
        expr(s"abs(CAST(est_mau AS DECIMAL(38,0)) - mau) * 1000000 <= " +
          s"CAST($tolMicro AS DECIMAL(38,0)) * mau"))
      .select(col("y").as("year"), col("m").as("month"), col("n_days"),
        col("mau"), col("est_mau"), col("n_kept"), col("exact"),
        col("est_avg_dau_micro"), col("est_stickiness_micro"), col("within_tol"))
  }
}
