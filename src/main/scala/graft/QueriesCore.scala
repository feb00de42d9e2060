package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Sources
import graft.ops.{AsOf, Cleaning, Crosstab, MultiDim, Rounding, Stats, Tabulation}
import graft.bht.{Kpis, Raking}
import graft.scale.{Sampling, TextAnalysis}
import EntryShared._

/** [[SparkEntry]] slice: reference-surface queries (aggregations, transforms, IO roundtrips, joins, sampling/stats).
  * Query lambdas and their DuckDB oracle mirrors live side by side;
  * the maps compose into the driver contract in [[SparkEntry]].
  * Determinism rules documented there apply to every entry.
  */
private[graft] object QueriesCore {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- §2.3 aggregations -------------------------------------------
    "a1_value_counts" -> ((s, d) =>
      Tabulation.valueCounts(T(s, d, "customer"), "c_mktsegment")),

    "a2_freq_table" -> ((s, d) =>
      Tabulation.freqTable(T(s, d, "lineitem"), "l_returnflag", Some("l_quantity"), 1)),

    "a3_crosstab_total" -> ((s, d) =>
      Crosstab.crosstab(T(s, d, "lineitem"), "l_returnflag", "l_linestatus",
        Some("l_quantity"), "total", includeTotals = true, 1)),

    "a3_crosstab_row" -> ((s, d) =>
      Crosstab.crosstab(T(s, d, "lineitem"), "l_returnflag", "l_linestatus",
        Some("l_quantity"), "row", includeTotals = true, 1)),

    "a3_crosstab_col" -> ((s, d) =>
      Crosstab.crosstab(T(s, d, "lineitem"), "l_returnflag", "l_linestatus",
        Some("l_quantity"), "col", includeTotals = true, 1)),

    "a4_multidim_level" -> ((s, d) =>
      MultiDim.multiDimTabulation(T(s, d, "lineitem"),
        Seq("l_returnflag", "l_linestatus"), Some("l_quantity"), "l_returnflag", 1)),

    "a4_multidim_total" -> ((s, d) =>
      MultiDim.multiDimTabulation(T(s, d, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_linenumber"), Some("l_quantity"), "total", 1)),

    "a5_full_tabulation" -> ((s, d) =>
      Tabulation.fullTabulation(T(s, d, "customer"),
        Seq("c_mktsegment", "c_nationkey", "c_name"))),

    "a5b_full_tab_orders" -> ((s, d) =>
      Tabulation.fullTabulation(T(s, d, "orders"),
        Seq("o_orderstatus", "o_orderdate", "o_totalprice"))),

    "a6_selected_counts" -> ((s, d) =>
      Tabulation.selectedCounts(T(s, d, "orders"),
        Seq("o_orderstatus", "o_orderpriority"))),

    "a7_csat_summary" -> ((s, d) =>
      Kpis.csatSummary(T(s, d, "lineitem"), "l_quantity")),

    "a8_nps_summary" -> ((s, d) =>
      Kpis.npsSummary(T(s, d, "part"), "p_size")),

    "a7b_describe" -> ((s, d) =>
      Stats.describe(T(s, d, "lineitem"), "l_quantity")),

    "a9_rollup_tab" -> ((s, d) =>
      MultiDim.rollupTabulation(T(s, d, "lineitem"),
        Seq("l_returnflag", "l_linestatus"), Some("l_quantity"))),

    "s1_histogram" -> ((s, d) =>
      Stats.histogram(T(s, d, "orders"), "o_totalprice", 0.0, 600000.0, 24)),

    "s2_chi2" -> ((s, d) =>
      Stats.chiSquare(T(s, d, "lineitem"), "l_returnflag", "l_linestatus",
        Some("l_quantity"))),

    "s8_sigtest" -> ((s, d) =>
      Stats.columnProportionZTest(T(s, d, "orders"), "o_orderpriority", "o_orderstatus")),

    "s9_prop_ci" -> ((s, d) =>
      Stats.proportionCI(T(s, d, "lineitem"), "l_returnflag", Some("l_quantity"))),

    "s10_kanon" -> ((s, d) => {
      val quasi = Seq("c_nationkey", "c_mktsegment")
      val c = T(s, d, "customer")
      graft.ops.Privacy.kAnonymitySummary(c, quasi, k = 30)
        .crossJoin(graft.ops.Privacy.suppress(c, quasi, k = 30)
          .agg(count(lit(1)).as("released_rows")))
    }),

    // l-diversity audit — k-anonymity's blind spot: cells whose
    // sensitive attribute (acctbal band) takes < 3 distinct values;
    // one hash aggregate carrying both counts
    // Neyman allocation: split a 1000-interview budget across return
    // flags by N_h·S_h — exact cent moments, sorted-order weight fold
    "s27_neyman" -> ((s, d) =>
      Stats.neymanAllocation(T(s, d, "lineitem"), "l_quantity",
        "l_returnflag", budget = 1000L)),

    // shape profile: skewness + excess kurtosis per return flag from
    // exact BIGINT power sums — one hash aggregate, halfUp-6 outputs
    "s28_moments" -> ((s, d) =>
      Stats.momentsByGroup(T(s, d, "lineitem"), "l_quantity",
        Seq("l_returnflag"))),

    // Benford forensic screen on order-total cents: first digit of the
    // exact BIGINT, observed vs log10(1+1/d) expected share per digit
    "s29_benford" -> ((s, d) =>
      Stats.benfordAudit(
        T(s, d, "orders").select((col("o_totalprice") * 100).as("cents")),
        "cents")),

    // t-closeness audit — l-diversity's blind spot: cells whose
    // acctbal-band distribution sits EMD > 0.25 from the population's;
    // exact integer cumulative cross-multiply on a dense band grid
    "s10c_tcloseness" -> ((s, d) =>
      graft.ops.Privacy.tClosenessSummary(T(s, d, "customer"),
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal",
        lo = -1000.0, hi = 10000.0, nbins = 10, t = 0.25)),

    // banded PSI drift (the model-risk 0.25-threshold score) between
    // src0 and src1 char-length distributions; per-band micro terms
    // sum exactly, bands from the fixed [0, 600) grid
    "s26_psi" -> ((s, d) =>
      Stats.psiSummary(T(s, d, "documents"), "n_chars", "source",
        "src0", "src1", lo = 0.0, hi = 600.0, nbins = 10)),

    // two-sample KS drift on the exact integer lattice: did src0 and
    // src1 draw document lengths from the same distribution? (profile
    // diffs compare moments; KS compares the whole CDF)
    "s25_ks_drift" -> ((s, d) => {
      val docs = T(s, d, "documents")
        .withColumn("toklen", TextAnalysis.tokenCount(col("text")))
      Stats.ksDrift(docs, "toklen", "source", "src0", "src1")
    }),

    // winsorized mean: values clamped to the group's exact [p10, p90]
    // (inverted-CDF, value-based, tie-stable) before the mean — the
    // robust location estimate; one scan, window over tie groups only
    "s24_winsorized" -> ((s, d) =>
      Stats.winsorizedMean(T(s, d, "lineitem"), "l_quantity",
        Seq("l_returnflag"), lo = 0.1, hi = 0.9)),

    "s10b_ldiversity" -> ((s, d) => {
      val c = T(s, d, "customer").withColumn("band",
        floor(col("c_acctbal") / 2000).cast("long"))
      graft.ops.Privacy.lDiversitySummary(c,
        Seq("c_nationkey", "c_mktsegment"), "band", l = 3)
    }),

    // --- §2.1 IO roundtrips: each writes the parquet table through
    // graft's own sink, reads it back through graft's own source, and
    // the DuckDB oracle computes the same result straight from parquet —
    // so header handling, quoting, escaping, and type inference are all
    // on the hash-checked path (temp files under java.io.tmpdir, removed
    // at JVM exit).
    "s11_csv_roundtrip" -> ((s, d) => {
      val dir = graft.scale.Models.tempArtifactDir("graft_s11")
      graft.io.Sinks.writeCsv(Map("nation" -> T(s, d, "nation")), dir)
      val part = new java.io.File(s"$dir/nation").listFiles()
        .map(_.getPath).find(_.endsWith(".csv"))
        .getOrElse(sys.error(s"no csv part written under $dir/nation"))
      Sources.readTable(s, part)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("key_sum"))
    }),

    "s12_excel_roundtrip" -> ((s, d) => {
      val path = s"${graft.scale.Models.tempArtifactDir("graft_s12")}/wb.xlsx"
      graft.io.Sinks.writeExcel(Map("nation" -> T(s, d, "nation")), path)
      Sources.readTable(s, path)
    }),

    // WET (Common Crawl extracted-text WARC) roundtrip: documents →
    // conversion records → distributed delimiter-split read → fields.
    // Proves the record render (Content-Length = body bytes), the
    // splitter, and body-identity end to end; the oracle replays the
    // same projection straight off the documents table.
    "s23_wet_roundtrip" -> ((s, d) => {
      // fit-once temp artifact: cleaned at JVM exit, and the cold/warm
      // bench samples reuse one corpus-sized WET copy instead of two
      val dir = graft.scale.Models.fitOnceArtifactDir("wet-s23", d) { out =>
        graft.io.Sinks.writeWet(
          T(s, d, "documents").select(
            concat(lit("https://example.org/doc/"), col("doc_id")).as("url"),
            lit("2026-01-01T00:00:00Z").as("date"), col("text")), out)
      }
      wetConversions(graft.io.Warc.readWet(s, dir))
    }),

    // ADVERSARIAL WET roundtrip (round-8 verdict #4): bodies planted
    // (shared epilogue: wetConversions)
    // with the record magic `WARC/1.0\r\n` and the record separator
    // `\r\n\r\n` — text the delimiter-split readWet provably mis-splits
    // and the old writeWet refused outright — written with
    // Content-Length framing (forStrictReader) and read back by the
    // strict reader, which slices bodies by declared length. The oracle
    // replays the plant straight off the documents table: body-identity
    // through the hostile roundtrip.
    "s30_wet_strict" -> ((s, d) => {
      // fit-once temp artifact (see s23): JVM-exit cleanup + one write
      // shared by the cold and warm bench samples
      val dir = graft.scale.Models.fitOnceArtifactDir("wet-s30", d) { out =>
        val planted = T(s, d, "documents").select(
          col("doc_id"),
          concat(lit("https://example.org/doc/"), col("doc_id")).as("url"),
          lit("2026-01-01T00:00:00Z").as("date"),
          when(col("doc_id") % 5 === 0,
              concat(col("text"), lit("\r\nWARC/1.0\r\n"), col("text")))
            .when(col("doc_id") % 5 === 1,
              concat(lit("a\r\n\r\nb "), col("text")))
            .otherwise(col("text")).as("text"))
        graft.io.Sinks.writeWet(planted, out, forStrictReader = true)
      }
      wetConversions(graft.io.Warc.readWetStrict(s, dir))
    }),

    "s14_xls_roundtrip" -> ((s, d) => {
      val path = s"${graft.scale.Models.tempArtifactDir("graft_s14")}/wb.xls"
      graft.io.Xls.write("nation", T(s, d, "nation"), path)
      Sources.readTable(s, path)
    }),

    // ORC roundtrip: parquet → graft ORC sink → graft source → agg; the
    // oracle computes the same agg straight from parquet, so the ORC
    // writer/reader pair is on the hash-checked path (DuckDB has no ORC
    // reader — the parquet-sourced oracle checks the full roundtrip
    // instead, which is the stronger contract anyway).
    "s18_orc_roundtrip" -> ((s, d) => {
      val dir = graft.scale.Models.tempArtifactDir("graft_s18")
      graft.io.Sinks.writeOrc(Map("nation" -> T(s, d, "nation")), dir)
      Sources.readTable(s, s"$dir/nation.orc")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("key_sum"))
    }),

    // Avro roundtrip: parquet → graft Avro container sink → graft
    // source → agg; DuckDB has no offline Avro reader, so like s18 the
    // parquet-sourced oracle checks the full writer/reader pair — the
    // stronger contract
    "s33_avro_roundtrip" -> ((s, d) => {
      val dir = graft.scale.Models.tempArtifactDir("graft_s33")
      graft.io.Avro.writeAvro(T(s, d, "nation"), dir)
      graft.io.Avro.readAvro(s, dir)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("key_sum"))
    }),

    // Bucketed-ingest roundtrip: parquet → bucketed managed table
    // (pre-hashed files + catalog bucket metadata) → catalog read → agg.
    // Data correctness of the bucketed layout is hash-checked here; the
    // shuffle-FREE join/agg plan it buys is asserted in BucketingSpec.
    "s19_bucketed_roundtrip" -> ((s, d) => {
      graft.io.Sinks.writeBucketed(
        T(s, d, "nation"), "graft_s19_nation", buckets = 4, bucketCols = Seq("n_regionkey"))
      s.table("graft_s19_nation")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("key_sum"))
    }),

    "s13_json_bundle" -> ((s, d) => {
      val path = s"${graft.scale.Models.tempArtifactDir("graft_s13")}/bundle.json"
      graft.io.Sinks.writeJsonBundle(
        Map("region" -> T(s, d, "region"), "nation" -> T(s, d, "nation")), path)
      s.read.option("multiLine", "true").json(path)
        .select(explode(col("nation")).as("r"))
        .select(col("r.n_nationkey"), col("r.n_name"), col("r.n_regionkey"))
    }),

    "b5_csat_weighted" -> ((s, d) =>
      Kpis.csatSummaryWeighted(T(s, d, "lineitem"), "l_quantity", "l_linenumber",
        Seq("l_returnflag"))),

    "s3_wquantile" -> ((s, d) =>
      Stats.weightedQuantile(T(s, d, "lineitem"), "l_extendedprice", "l_quantity",
        Seq("l_returnflag"), 0.5)),

    // the scale-adaptive router on a probe-eligible column (integral
    // values, 50 distinct quantities ≪ capacity): takes the SKETCH
    // route, whose stride-1 result the inverted-CDF oracle hash-gates;
    // s3 above keeps the exact sorted-window route green (fractional
    // prices are probe-ineligible)
    "s3b_wquantile_auto" -> ((s, d) =>
      Stats.weightedQuantileAuto(T(s, d, "lineitem"), "l_quantity", "l_linenumber",
        Seq("l_returnflag"), 0.5)),

    "s4_rake" -> ((s, d) =>
      Raking.ipfCellWeights(T(s, d, "lineitem"), "l_returnflag", "l_linestatus",
        rowTargets = Map("A" -> 300000.0, "N" -> 400000.0, "R" -> 300000.0),
        colTargets = Map("F" -> 450000.0, "O" -> 550000.0),
        weightCol = Some("l_quantity"), iters = 5)
        .select(col("l_returnflag"), col("l_linestatus"),
          Rounding.halfUp(col("weight"), 6).as("weight"))),

    // the full weighting loop: fit IPF cell targets -> apply per-case
    // factors (design weight preserved) -> weighted tabulation; micro-
    // scaled longs make the group sums exact in both engines
    "b6_rake_weighted_freq" -> ((s, d) => {
      val li = T(s, d, "lineitem")
      val cw = Raking.ipfCellWeights(li, "l_returnflag", "l_linestatus",
        rowTargets = Map("A" -> 300000.0, "N" -> 400000.0, "R" -> 300000.0),
        colTargets = Map("F" -> 450000.0, "O" -> 550000.0),
        weightCol = Some("l_quantity"), iters = 5)
      Raking.applyRake(li, "l_returnflag", "l_linestatus", cw, Some("l_quantity"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(floor(col("rake_weight") * 1e6 + 0.5).cast("long")).as("weight_micro"),
          count(lit(1)).as("n"))
    }),

    // bounded-state k-per-group sampling through the BoundedTopK
    // aggregate (shuffle ∝ groups × k, not rows); affine-hash order is
    // engine-portable so the oracle mirrors it with a window
    "s20_sample_pergroup" -> ((s, d) =>
      Sampling.sampleKPerGroup(T(s, d, "orders"),
        Seq("o_orderstatus"), "o_orderkey", k = 10)),

    "s5_sample_strat" -> ((s, d) =>
      Sampling.stratifiedSystematic(T(s, d, "orders"), "o_orderstatus", "o_orderkey",
        Map("O" -> 2L, "F" -> 5L), defaultMod = 10L)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("total_cents"))),

    "j2_asof_join" -> ((s, d) => {
      val ev = T(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("ts").as("click_ts"))
      AsOf.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts", Seq("click_ts"))
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"), unix_millis(col("click_ts")).as("click_ms"))
    }),

    // the tolerance variant: a click older than an hour is no
    // attribution at all (pandas merge_asof tolerance semantics)
    "j2b_asof_tolerance" -> ((s, d) => {
      val ev = T(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("ts").as("click_ts"))
      AsOf.asofJoinTolerance(purchases, clicks, Seq("user_id"), "ts", "ts",
        Seq("click_ts"), toleranceMicros = 3600000000L)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"), unix_millis(col("click_ts")).as("click_ms"))
    }),

    // value→interval join through the binned equi-join (a raw BETWEEN
    // theta-join plans as BroadcastNestedLoop); irregular overlapping
    // price bands derived from part, values from lineitem. Counts and
    // cent-sums per band are engine-exact; the band bounds are the same
    // double arithmetic in both engines.
    "j4_range_join" -> ((s, d) => {
      val bands = T(s, d, "part").filter(col("p_partkey") <= 100)
        .select(col("p_partkey").as("band"),
          (col("p_retailprice") * 10).as("lo"),
          (col("p_retailprice") * 10 + 5000 + (col("p_partkey") % 7) * 3000).as("hi"))
      graft.ops.RangeJoin.rangeJoin(
          T(s, d, "lineitem").select(col("l_extendedprice")), "l_extendedprice",
          bands, "lo", "hi", binWidth = 5000)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("cents"))
    }),

    // interval-OVERLAP join (both sides exploded to bins, first-
    // shared-bin election — exactly-once pairs with no distinct):
    // irregular price bands vs lineitem-derived price intervals,
    // rolled up per band so the gate hashes a summary, not the pair
    // stream
    "j5_interval_join" -> ((s, d) => {
      val bands = T(s, d, "part").filter(col("p_partkey") <= 100)
        .select(col("p_partkey").as("band"),
          (col("p_retailprice") * 10).as("lo"),
          (col("p_retailprice") * 10 + 5000 + (col("p_partkey") % 7) * 3000).as("hi"))
      val spans = T(s, d, "lineitem").filter(col("l_orderkey") % 7 === 0)
        .select(
          (col("l_extendedprice") - col("l_linenumber") * 200).as("s"),
          (col("l_extendedprice") + 300).as("e"))
      graft.ops.RangeJoin.intervalJoin(bands, "lo", "hi", spans, "s", "e",
          binWidth = 5000)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("s") * 100 + 0.5).cast("long")).as("start_cents"))
    }),

    "s6_neff" -> ((s, d) =>
      Raking.effectiveSampleSize(T(s, d, "lineitem"), "l_quantity", Seq("l_returnflag"))),

    "b1_trend" -> ((s, d) => {
      val df = T(s, d, "orders")
        .withColumn("wave", unix_timestamp(date_trunc("month", col("o_orderdate"))))
      graft.bht.Trend.waveOverWave(df, "wave", Seq("o_orderstatus"))
    }),

    "b2_nps_weighted" -> ((s, d) =>
      Kpis.npsSummaryWeighted(
        T(s, d, "part").withColumn("wt", (col("p_partkey") % 5 + 1).cast("double")),
        "p_size", "wt", Seq("p_brand"))),

    // churn: users active in the first half of the event window but not
    // the second. SINGLE data pass: per-user conditional flags from one
    // groupBy (no distinct×2 + anti-join, no driver-side head() action);
    // the midpoint scalar attaches as a broadcast 1-row agg.
    "b3_churn" -> ((s, d) => {
      val ev = T(s, d, "events").select(col("user_id"), unix_millis(col("ts")).as("__ms"))
      val mid = ev.agg(
        floor((min(col("__ms")) + max(col("__ms"))) / 2).cast("long").as("__mid"))
      // empty events: null midpoint → both flags 0 → churn 0 (same as
      // the oracle) — null comparisons are false in `when`
      ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(
          max(when(col("__ms") < col("__mid"), 1).otherwise(0)).as("__early"),
          max(when(col("__ms") >= col("__mid"), 1).otherwise(0)).as("__late"))
        .filter(col("__early") === 1 && col("__late") === 0)
        .agg(count(lit(1)).as("churned_users"))
    }),

    // spend deciles: VALUE-based buckets from one exact-percentile agg —
    // ties share a bucket, and no global-order window ever funnels the
    // table through a single task (the scale contract; see
    // Stats.bucketSummary and ScalePlanSpec's no-unpartitioned-window
    // assert). Bucketing runs on integer cents so boundaries and sums
    // are exact and engine-portable.
    "b4_deciles" -> ((s, d) => {
      val o = T(s, d, "orders")
        .withColumn("cents", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
      Stats.bucketSummary(o, "cents", nBuckets = 10)
        .select(col("bucket").cast("int").as("decile"), col("n"),
          col("total").cast("long").as("total_cents"))
    }),

    "s7_fingerprint_portable" -> ((s, d) =>
      TextAnalysis.portableFingerprintTable(T(s, d, "documents"), "doc_id", "text")),

    // --- §2.2 transforms ---------------------------------------------
    "t5_codebook_recode" -> ((s, d) => {
      val recoded = Cleaning.applyCodebook(T(s, d, "nation"),
        Map("n_regionkey" -> Map("0" -> "AFRICA", "1" -> "AMERICA", "2" -> "ASIA")))
      recoded.groupBy("n_regionkey").agg(count(lit(1)).as("count"))
    }),

    // S3 on the hash-checked path: the codebook arrives as a FILE with
    // the reference's column,value,label contract (app.py:218-227) and
    // flows through Sources.readCodebook (CSV parse + astype(str)
    // collapse) before the recode — a mis-parse there breaks the hash,
    // unlike t5 which feeds applyCodebook a literal map.
    "t5b_codebook_file" -> ((s, d) => {
      val path = java.nio.file.Paths.get(graft.scale.Models.tempArtifactDir("graft_t5b"), "codebook.csv")
      java.nio.file.Files.writeString(path,
        "column,value,label\n" +
          "n_regionkey,0,AFRICA\nn_regionkey,1,AMERICA\nn_regionkey,2,ASIA\n")
      val cb = Sources.readCodebook(s, path.toString)
      Cleaning.applyCodebook(T(s, d, "nation"), cb)
        .groupBy("n_regionkey").agg(count(lit(1)).as("count"))
    }),

    "t10_brand_dictionary" -> ((s, d) =>
      Tabulation.distinctValues(T(s, d, "customer"), "c_mktsegment")),

    // --- §2.4 sort/limit/union/join ----------------------------------
    "o3_sort_limit" -> ((s, d) =>
      T(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(desc("o_totalprice"), desc("o_orderkey")).limit(20)),

    "u1_union_funnel" -> ((s, d) => {
      val o = T(s, d, "orders")
      Tabulation.selectedCounts(o, Seq("o_orderstatus")).withColumn("stage", lit("ever_used"))
        .unionByName(
          Tabulation.selectedCounts(o, Seq("o_orderpriority")).withColumn("stage", lit("consider")))
    }),

    "j1_join_enrich" -> ((s, d) => {
      val c = T(s, d, "customer")
      val n = T(s, d, "nation")
      val r = T(s, d, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          sum(floor(col("c_acctbal") * 100 + 0.5).cast("long")).as("acctbal_cents"))
    }),

    // weighted sampling over lineitem at ~20%: inclusion ∝ l_quantity;
    // summary by returnflag keeps the output small while hashing both
    // the kept-set membership and the weight mass
    "s17_sample_weighted" -> ((s, d) => {
      val li = T(s, d, "lineitem")
        .withColumn("__key", col("l_orderkey") * 8 + col("l_linenumber"))
      Sampling.byWeight(li, "__key", "l_quantity", targetFrac = 0.2)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("l_quantity").cast("long")).as("qty_kept"))
    }),

    // per-brand z-score feature normalization; p_size is integer-valued
    // so the moments are exact longs (see Stats.zscore determinism note)
    "s16_zscore" -> ((s, d) =>
      Stats.zscore(T(s, d, "part"), "p_size", groupCols = Seq("p_brand"))
        .select(col("p_partkey"), col("p_size"),
          Rounding.halfUp(col("z"), 9).as("z"))),

    // ingest audit: one pass, all requested columns
    "s15_profile" -> ((s, d) =>
      Stats.profile(T(s, d, "customer"),
        Seq("c_mktsegment", "c_nationkey", "c_custkey"))),

    // the audit's frequency/median columns ride the SAME one-pass agg
    // (Space-Saving + weighted-quantile sketch) in their exact-mode
    // oracle config (capacity >= distinct values); integral columns
    // only — c_mktsegment's empty top_values explodes to zero rows,
    // which the oracle pins by omission. Arrays explode to scalars
    // (driver compare can't hash arrays).
    "s15b_profile_topk" -> ((s, d) =>
      Stats.profile(T(s, d, "customer"),
        Seq("c_mktsegment", "c_nationkey", "c_custkey"),
        numericTopK = 3, sketchCapacity = 1 << 18)
        .select(col("col_name"), col("n_rows"), col("n_null"), col("n_distinct"),
          col("p50"), posexplode(col("top_values")).as(Seq("__pos", "__tv")))
        .select(col("col_name"), col("n_rows"), col("n_null"), col("n_distinct"),
          col("p50"), (col("__pos") + 1).cast("int").as("rank"),
          col("__tv.value").as("top_value"), col("__tv.count").as("top_count"))),

    // ingest-drift audit: wave B is a deterministic perturbation of
    // customer (fifth of rows dropped, a seventh of segments nulled);
    // the diff surfaces the planted null-rate jump per column
    "s22_profile_diff" -> ((s, d) => {
      val a = T(s, d, "customer")
      val b = a.filter(col("c_custkey") % 5 =!= 0)
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_mktsegment")))
      Stats.profileDiff(a, b, Seq("c_mktsegment", "c_nationkey"))
        .withColumn("null_rate_delta", Rounding.halfUp(col("null_rate_delta"), 9))
    }),

    // feature-correlation audit: p·(p+3)/2 exact long moments in ONE
    // aggregate; inputs pre-cast to integral (cents-scaled) so the
    // Pearson arithmetic is engine-exact (see Stats.corrMatrix)
    "s21_corr" -> ((s, d) => {
      val li = T(s, d, "lineitem").select(
        col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"),
        floor(col("l_discount") * 100 + 0.5).cast("long").as("disc_cents"),
        floor(col("l_tax") * 100 + 0.5).cast("long").as("tax_cents"))
      Stats.corrMatrix(li, Seq("l_linenumber", "qty", "disc_cents", "tax_cents"))
    }),

    // hot-key join through the salt fan-out: output equals the plain
    // join (the salt is internal), so the oracle is the plain SQL join
    "j3_salted_join" -> ((s, d) => {
      val ev = T(s, d, "events").select(col("user_id"), col("event_type"))
      val userTotals = T(s, d, "events")
        .groupBy("user_id").agg(count(lit(1)).as("user_events"))
      graft.ops.Skew.saltedJoin(ev, userTotals, "user_id", salts = 8)
        .groupBy("event_type")
        .agg(sum("user_events").as("sum_user_events"), count(lit(1)).as("n"))
    }),

    // join-skew audit: the top heavy keys with exact micro-share and
    // the salt factor a bounded-reducer salted join would need
    "s31_skew_advisor" -> ((s, d) =>
      graft.ops.Skew.saltAdvisor(T(s, d, "events"), "user_id",
        rowsPerTask = 32L, topK = 25)),

    // robust outliers: median/MAD (50% breakdown) per source over doc
    // lengths — the masking-proof screen beside the z-score profile
    "s32_robust_outliers" -> ((s, d) =>
      graft.ops.Stats.robustOutlierAudit(T(s, d, "documents"), "source", "n_chars")),

    // --- per-slice rank normalization (round-10) ----------------------
    // average-rank percentile of every distinct doc length within its
    // language — the scale-free transform for cross-slice comparison
    "x_stats_ranknorm" -> ((s, d) =>
      graft.ops.Stats.rankNormalize(T(s, d, "documents"), "lang", "n_chars")),

    // equi-depth histogram of doc lengths per language: quantile
    // buckets on the exact tie-group percentile — heavy-tail-aware
    // resolution the equi-width s1 histogram can't give
    "x_stats_eqdepth" -> ((s, d) =>
      graft.ops.Stats.equiDepthHistogram(T(s, d, "documents"), "lang", "n_chars",
        nbins = 8)),

    // exact tie-corrected ROC-AUC (rank-sum identity over the
    // tie-group lattice): doc length scored as an is-English
    // classifier per source — single-class slices emit NULL in-band
    "x_stats_auc" -> ((s, d) =>
      graft.ops.Stats.rocAuc(
        T(s, d, "documents").withColumn("is_en", col("lang") === "en"),
        "source", "is_en", "n_chars")),

    // precision/recall/F1 at a literal threshold list: ONE corpus
    // aggregate carrying 2|thresholds|+2 conditional sums, melted
    // after the aggregate — the operating-point table before a
    // score-cutoff filter ships
    "x_stats_pr" -> ((s, d) =>
      graft.ops.Stats.prAtThresholds(
        T(s, d, "documents").withColumn("is_en", col("lang") === "en"),
        "source", "is_en", "n_chars", Seq(100L, 300L, 600L, 1200L))),

    // chi-square independence of lang x source over the DENSE level
    // lattice (zero-observed cells carry their expected mass), each
    // cell's term micro-rounded before the order-invariant sum;
    // Cramér's V normalizes the effect size
    "x_stats_chi2" -> ((s, d) =>
      graft.ops.Stats.chiSquareIndependence(T(s, d, "documents"),
        "lang", "source")),

    // quantile normalization: per-language doc-length lattice mapped
    // onto the POOLED distribution (exact rank percentiles, type-1
    // pooled quantile by the identity-preserving threshold) — the
    // score-harmonization step before mixing differently-graded
    // corpora
    "x_stats_qnorm" -> ((s, d) =>
      graft.ops.Stats.quantileNormalize(T(s, d, "documents"),
        "lang", "n_chars")),

    // Welch's unequal-variance t between two language slices of doc
    // length — the A/B gate for "did the mean move", exact long
    // moments feeding one deterministic double tree
    "x_stats_welch" -> ((s, d) =>
      graft.ops.Stats.welchTTest(T(s, d, "documents"),
        "lang", "n_chars", "en", "zh")),

    // difference-in-differences on order value: urgent-priority orders
    // (treat) vs the rest, pre/post the 1998-01-01 cut — nets common
    // drift out of the post-only comparison; ONE conditional aggregate
    "x_stats_did" -> ((s, d) =>
      graft.ops.Stats.diffInDiff(
        T(s, d, "orders").select(
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("treat"),
          // o_orderdate reads as TIMESTAMP_NTZ; the session is pinned
          // UTC, so the cast re-reads the same wall clock as an
          // instant and unix_micros matches DuckDB's epoch_us
          (expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))")
            >= 883612800000000L).as("post"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS LONG)").as("cents")),
        "treat", "post", "cents")),

    // Mann-Whitney U z between the same two slices as x_stats_welch —
    // the rank-based partner (outlier-robust where the mean test is
    // tail-driven), tie-corrected z from exact integer rank sums
    "x_stats_mannwhitney" -> ((s, d) =>
      graft.ops.Stats.mannWhitneyZ(T(s, d, "documents"),
        "lang", "n_chars", "en", "zh")),

    // one-way ANOVA F across market segments on balance cents — the
    // k-sample "did ANY segment's mean move" (Welch is the 2-sample
    // form); exact per-group decimal moments, order-fixed group fold
    "x_stats_anova" -> ((s, d) =>
      graft.ops.Stats.anovaF(
        T(s, d, "customer").select(col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents")),
        "seg", "cents")),

    // Kruskal-Wallis H over the same lattice — the rank-based k-sample
    // complement (Mann-Whitney is the 2-sample form): doubled-midrank
    // tie lattice, exact decimal rank sums, tie-corrected H
    "x_stats_kruskal" -> ((s, d) =>
      graft.ops.Stats.kruskalWallis(
        T(s, d, "customer").select(col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents")),
        "seg", "cents")),

    // Brown-Forsythe variance homogeneity: anova on |v - group median|
    // (exact lower medians off the per-group lattice) — the gate
    // before trusting the pooled within-variance
    "x_stats_brownforsythe" -> ((s, d) =>
      graft.ops.Stats.brownForsytheF(
        T(s, d, "customer").select(col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents")),
        "seg", "cents")),

    // Jonckheere-Terpstra ordered trend: does order value trend across
    // priority tiers (lexical label order IS the tier order); value
    // banded to 1000-dollar buckets (the guard's lattice contract)
    "x_stats_jonckheere" -> ((s, d) =>
      graft.ops.Stats.jonckheereZ(
        T(s, d, "orders").select(col("o_orderpriority").as("tier"),
          floor(col("o_totalprice") / 1000).cast("long").as("band")),
        "tier", "band")),

    // pairwise Welch contrasts: WHICH segments differ after the F
    // rejects — k-row moment self-join, exact micro mean differences
    "x_stats_contrasts" -> ((s, d) =>
      graft.ops.Stats.pairwiseContrasts(
        T(s, d, "customer").select(col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents")),
        "seg", "cents")),

    // Spearman rank correlation of doc length vs token count —
    // monotone association via midranks kept exact as DOUBLED longs,
    // decimal(38) moment sums, one double Pearson at the end
    "x_stats_spearman" -> ((s, d) => {
      val docs = T(s, d, "documents")
        .withColumn("n_toks", size(TextAnalysis.tokens(col("text"))))
      graft.ops.Stats.spearmanCorr(docs, "n_chars", "n_toks")
    }),

    // per-language KS drift vs the rest of the corpus with asymptotic
    // p-values, then Benjamini-Hochberg at q = 0.05 — "WHICH domains
    // drifted", FDR-controlled (exact integer BH on micro units)
    "x_stats_ks_fdr" -> ((s, d) =>
      graft.ops.Stats.bhReject(
        graft.ops.Stats.ksDriftBySlice(T(s, d, "documents"), "n_chars", "lang"),
        "slice", "p_micro", qMicro = 50000L)),

    // Poisson-bootstrap CI on mean order value per priority: all 64
    // replicates ride ONE corpus aggregate (2R+2 conditional sums,
    // codegen'd threshold chains) — the oracle explodes rows x R, the
    // engine never fans out; percentile CI from the R-row lattice
    "x_stats_bootstrap" -> ((s, d) =>
      graft.ops.Stats.bootstrapMeanCI(
        T(s, d, "orders").select(col("o_orderpriority"), col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS LONG)").as("cents")),
        "o_orderpriority", "cents", "o_orderkey")),

    // KMV corpus-overlap: even-id docs vs odd-id docs by text hash —
    // distinct/union/intersection/Jaccard WITHOUT a join; each side
    // reduces to its 256 smallest distinct portable hashes map-side
    "x_stats_kmv" -> ((s, d) => {
      val docs = T(s, d, "documents")
      graft.ops.Stats.kmvOverlap(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", k = 256)
    }),

    // pairwise KMV overlap matrix across language slices: which
    // sources feed the same content — one k-bounded sketch per slice,
    // |slices|^2/2 pair table, corpora never join
    "x_stats_kmv_matrix" -> ((s, d) =>
      graft.ops.Stats.kmvOverlapMatrix(T(s, d, "documents"),
        "lang", "text", k = 128)),

    // per-cell adjusted residuals for the lang x source association —
    // which cells drive x_stats_chi2's one number (|r| > 2 flags)
    "x_stats_chi2_cells" -> ((s, d) =>
      graft.ops.Stats.chiSquareResiduals(T(s, d, "documents"),
        "lang", "source")),

    // McNemar over two filters judged on the SAME docs (length floor
    // vs is-English): discordant counts carry the evidence
    "x_stats_mcnemar" -> ((s, d) =>
      graft.ops.Stats.mcnemarTest(
        T(s, d, "documents")
          .withColumn("pa", col("n_chars") >= 300)
          .withColumn("pb", col("lang") === "en"),
        "pa", "pb")),

    // isotonic calibration of doc length as an is-English score: PAV
    // by its minimax closed form over the 16-bin lattice — the fix
    // for what the calibration table diagnoses
    "x_stats_isotonic" -> ((s, d) =>
      graft.ops.Stats.isotonicCalibrate(
        T(s, d, "documents").withColumn("is_en", col("lang") === "en")
          .filter(col("lang").isNotNull),
        "is_en", "n_chars", domainLo = 0L, domainStep = 64L, nbins = 16)),

    // leave-one-out target encoding of market segment against account
    // balance cents (prior weight 20): a row's own label never leaks
    // into its own feature; exact long stats, one halfUp-6 double
    "x_stats_tenc" -> ((s, d) =>
      graft.ops.Stats.targetEncodeLoo(
        T(s, d, "customer").withColumn("bal_cents",
          floor(col("c_acctbal") * 100 + 0.5).cast("long")),
        "c_mktsegment", "bal_cents", priorWeight = 20L)
        .select(col("c_custkey"), col("cat_n"), col("cat_sum"), col("enc"))),
  )

  /** Shared (g, v) source for the k-group test oracles: market
    * segment × balance cents. */
  private def custSegBalSql: String =
    """SELECT CAST(c_mktsegment AS VARCHAR) AS g,
      |    CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT) AS v
      |  FROM customer WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL""".stripMargin

  /** The one-way-ANOVA oracle chain over an arbitrary (g, v) source
    * SELECT (may itself carry a nested WITH): exact HUGEINT group
    * moments, the cross-group double sum folded over the ORDER BY g
    * list (list_reduce with a prepended 0.0 — bit-identical to
    * anovaF's sort_array + aggregate fold), eta² beside F. Shared by
    * x_stats_anova and the Brown-Forsythe replay. */
  private def anovaSqlFrom(bSql: String): String = {
    def dd(x: String) = s"CAST($x AS DOUBLE)"
    val fold = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(arr, x -> CAST(x.s AS DOUBLE) * CAST(x.s AS DOUBLE) / CAST(x.n AS DOUBLE))), " +
      "(a, b) -> a + b)"
    val ssb = s"(fold - ${dd("st")} * ${dd("st")} / ${dd("n")})"
    val ssw = s"(${dd("s2t")} - fold)"
    val f = s"(($ssb / (k - 1)) / ($ssw / (n - k)))"
    s"""WITH b AS ($bSql),
       |grp AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g,
       |          sum(CAST(v AS HUGEINT)) AS s_g,
       |          sum(CAST(v AS HUGEINT) * v) AS s2_g
       |        FROM b GROUP BY g),
       |one AS (SELECT CAST(coalesce(sum(n_g), 0) AS BIGINT) AS n,
       |          CAST(count(*) AS BIGINT) AS k,
       |          coalesce(sum(s_g), 0) AS st, coalesce(sum(s2_g), 0) AS s2t,
       |          list(struct_pack(s := s_g, n := n_g) ORDER BY g) AS arr
       |        FROM grp),
       |m AS (SELECT n, k, st, s2t, $fold AS fold FROM one)
       |SELECT n, k AS n_groups,
       |  CASE WHEN k >= 2 THEN k - 1 END AS dof1,
       |  CASE WHEN k >= 2 AND n > k THEN n - k END AS dof2,
       |  CASE WHEN k >= 2 AND n > k AND $ssw > 0.0
       |       THEN ${graft.ops.Rounding.halfUpSql(f, 6)} END AS f_anova,
       |  CASE WHEN k >= 2 AND ($ssb + $ssw) > 0.0
       |       THEN ${graft.ops.Rounding.halfUpSql(s"($ssb / ($ssb + $ssw))", 6)} END AS eta_sq
       |FROM m""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "a1_value_counts" ->
      """SELECT trim(CAST(c_mktsegment AS VARCHAR)) AS option, CAST(count(*) AS BIGINT) AS "count"
        |FROM customer
        |WHERE c_mktsegment IS NOT NULL AND trim(CAST(c_mktsegment AS VARCHAR)) <> ''
        |GROUP BY 1""".stripMargin,

    "a2_freq_table" ->
      s"""WITH c AS (
         |  SELECT trim(coalesce(CAST(l_returnflag AS VARCHAR), 'nan')) AS "value",
         |         sum(coalesce(CAST(l_quantity AS DOUBLE), 0)) AS "count"
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT CASE WHEN sum("count") <> 0 THEN sum("count") END AS dn FROM c)
         |SELECT 'l_returnflag' AS "column", "value", "count",
         |       ${r1("\"count\" / t.dn * 100")} AS pct_total
         |FROM c, t""".stripMargin,

    "a3_crosstab_total" -> crosstabSql("total"),
    "a3_crosstab_row" -> crosstabSql("row"),
    "a3_crosstab_col" -> crosstabSql("col"),

    "a4_multidim_level" ->
      s"""WITH g AS (
         |  SELECT l_returnflag, l_linestatus, sum(coalesce(CAST(l_quantity AS DOUBLE),0)) AS "count"
         |  FROM lineitem GROUP BY 1, 2),
         |w AS (SELECT *, sum("count") OVER (PARTITION BY l_returnflag) AS dn FROM g)
         |SELECT l_returnflag, l_linestatus, "count",
         |       ${r1("\"count\" / (CASE WHEN dn <> 0 THEN dn END) * 100")} AS pct
         |FROM w""".stripMargin,

    "a4_multidim_total" ->
      s"""WITH g AS (
         |  SELECT l_returnflag, l_linestatus, l_linenumber, sum(coalesce(CAST(l_quantity AS DOUBLE),0)) AS "count"
         |  FROM lineitem GROUP BY 1, 2, 3),
         |t AS (SELECT CASE WHEN sum("count") <> 0 THEN sum("count") END AS dn FROM g)
         |SELECT l_returnflag, l_linestatus, l_linenumber, "count",
         |       ${r1("\"count\" / t.dn * 100")} AS pct
         |FROM g, t""".stripMargin,

    "a5_full_tabulation" ->
      """SELECT 'c_mktsegment' AS "column", trim(coalesce(CAST(c_mktsegment AS VARCHAR),'nan')) AS "value", CAST(count(*) AS BIGINT) AS "count" FROM customer GROUP BY 2
        |UNION ALL
        |SELECT 'c_nationkey', trim(coalesce(CAST(c_nationkey AS VARCHAR),'nan')), CAST(count(*) AS BIGINT) FROM customer GROUP BY 2
        |UNION ALL
        |SELECT 'c_name', trim(coalesce(CAST(c_name AS VARCHAR),'nan')), CAST(count(*) AS BIGINT) FROM customer GROUP BY 2""".stripMargin,

    // timestamp stringification follows the pandas rule: fraction omitted
    // when zero, full 6 digits otherwise (mirrored via strftime CASE)
    "a5b_full_tab_orders" ->
      """SELECT 'o_orderstatus' AS "column", trim(coalesce(CAST(o_orderstatus AS VARCHAR),'nan')) AS "value", CAST(count(*) AS BIGINT) AS "count" FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 'o_orderdate', trim(coalesce(CASE WHEN microsecond(o_orderdate) % 1000000 = 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') END, 'nan')), CAST(count(*) AS BIGINT) FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 'o_totalprice', trim(coalesce(CAST(o_totalprice AS VARCHAR),'nan')), CAST(count(*) AS BIGINT) FROM orders GROUP BY 2""".stripMargin,

    "a6_selected_counts" ->
      """SELECT 'o_orderstatus' AS brand, CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL AND trim(CAST(o_orderstatus AS VARCHAR)) <> '' AND lower(CAST(o_orderstatus AS VARCHAR)) <> '0') AS BIGINT) AS "count" FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', CAST(count(*) FILTER (WHERE o_orderpriority IS NOT NULL AND trim(CAST(o_orderpriority AS VARCHAR)) <> '' AND lower(CAST(o_orderpriority AS VARCHAR)) <> '0') AS BIGINT) FROM orders""".stripMargin,

    "a7_csat_summary" ->
      """SELECT 'mean' AS metric, avg(CAST(l_quantity AS DOUBLE)) AS "value" FROM lineitem
        |UNION ALL
        |SELECT 'top2_box', CAST(count(*) FILTER (WHERE CAST(l_quantity AS DOUBLE) >= (SELECT max(CAST(l_quantity AS DOUBLE)) FROM lineitem) - 1) AS BIGINT) / count(*) FROM lineitem
        |UNION ALL
        |SELECT 'n', CAST(count(l_quantity) AS DOUBLE) FROM lineitem""".stripMargin,

    "a7b_describe" ->
      """SELECT 'count' AS metric, CAST(count(l_quantity) AS DOUBLE) AS "value" FROM lineitem
        |UNION ALL SELECT 'mean', avg(CAST(l_quantity AS DOUBLE)) FROM lineitem
        |UNION ALL SELECT 'min', min(CAST(l_quantity AS DOUBLE)) FROM lineitem
        |UNION ALL SELECT 'p25', quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) FROM lineitem
        |UNION ALL SELECT 'p50', quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) FROM lineitem
        |UNION ALL SELECT 'p75', quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) FROM lineitem
        |UNION ALL SELECT 'max', max(CAST(l_quantity AS DOUBLE)) FROM lineitem""".stripMargin,

    "a9_rollup_tab" ->
      """WITH t AS (SELECT CAST(l_returnflag AS VARCHAR) AS r, CAST(l_linestatus AS VARCHAR) AS c,
        |              coalesce(CAST(l_quantity AS DOUBLE), 0) AS w
        |           FROM lineitem WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL)
        |SELECT coalesce(r, 'Total') AS l_returnflag,
        |       coalesce(c, 'Total') AS l_linestatus,
        |       CAST(grouping(r) AS INT) AS g_l_returnflag,
        |       CAST(grouping(c) AS INT) AS g_l_linestatus,
        |       sum(w) AS "count"
        |FROM t GROUP BY ROLLUP(r, c)""".stripMargin,

    "s1_histogram" ->
      """SELECT CAST(greatest(0.0, least(23.0, floor((o_totalprice - 0.0) / 600000.0 * 24))) AS INT) AS bin,
        |       CAST(count(*) AS BIGINT) AS "count"
        |FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1""".stripMargin,

    "s2_chi2" ->
      """WITH cells0 AS (
        |  SELECT CAST(l_returnflag AS VARCHAR) AS r, CAST(l_linestatus AS VARCHAR) AS c,
        |         sum(coalesce(CAST(l_quantity AS DOUBLE), 0)) AS obs
        |  FROM lineitem WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL GROUP BY 1, 2),
        |cells AS (
        |  SELECT rr.r, cc.c, coalesce(o.obs, 0) AS obs
        |  FROM (SELECT DISTINCT r FROM cells0) rr
        |  CROSS JOIN (SELECT DISTINCT c FROM cells0) cc
        |  LEFT JOIN cells0 o ON o.r = rr.r AND o.c = cc.c),
        |e AS (SELECT r, c, obs,
        |        sum(obs) OVER (PARTITION BY r) * sum(obs) OVER (PARTITION BY c) / sum(obs) OVER () AS ex
        |      FROM cells),
        |m AS (SELECT CAST(floor((obs - ex) * (obs - ex) / ex * 1e6 + 0.5) AS BIGINT) AS cm, r, c, obs FROM e),
        |a AS (SELECT CAST(sum(cm) AS BIGINT) AS chi2_micro,
        |             CAST((count(DISTINCT r) - 1) * (count(DISTINCT c) - 1) AS BIGINT) AS dof,
        |             CAST(sum(obs) AS BIGINT) AS n FROM m)
        |SELECT 'chi2_micro' AS metric, chi2_micro AS "value" FROM a
        |UNION ALL SELECT 'dof', dof FROM a
        |UNION ALL SELECT 'n', n FROM a""".stripMargin,

    "s10_kanon" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |           FROM customer GROUP BY 1, 2),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |        CAST(coalesce(sum(CASE WHEN n < 30 THEN 1 END), 0) AS BIGINT) AS n_risky,
        |        CAST(coalesce(sum(CASE WHEN n < 30 THEN n END), 0) AS BIGINT) AS rows_at_risk,
        |        CAST(min(n) AS BIGINT) AS min_cell
        |      FROM g),
        |r AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS released_rows FROM g WHERE n >= 30)
        |SELECT * FROM a, r""".stripMargin,

    // Neyman: exact cent moments, the identical S_h double chain, and
    // the weight total as an EXPLICIT ordered left fold (list_reduce
    // over list(wh ORDER BY stratum) — the Scala foldLeft association)
    "s27_neyman" ->
      """WITH m AS (SELECT CAST(l_returnflag AS VARCHAR) AS stratum,
        |        CAST(count(*) AS BIGINT) AS nh,
        |        CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s1,
        |        CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
        |               * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s2
        |      FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
        |w AS (SELECT stratum, nh,
        |        nh * sqrt(greatest(CAST(s2 AS DOUBLE) / nh
        |          - (CAST(s1 AS DOUBLE) / nh) * (CAST(s1 AS DOUBLE) / nh), 0.0)) AS wh
        |      FROM m),
        |t AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list(wh ORDER BY stratum)), (a, b) -> a + b) AS totw FROM w)
        |SELECT stratum, nh,
        |       CASE WHEN totw > 0 THEN floor(wh / totw * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS share,
        |       CAST(CASE WHEN totw > 0 THEN floor(1000 * wh / totw + 0.5) ELSE 0 END AS BIGINT) AS alloc
        |FROM w, t""".stripMargin,

    // Benford: first digit from the exact BIGINT's decimal string on
    // both engines; expected shares are the SAME micro-rounded Scala
    // literals interpolated here (never re-derived in SQL)
    "s29_benford" -> {
      val vals = (1 to 9).map(d =>
        s"($d, ${math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5) / 1e6})")
        .mkString(", ")
      s"""WITH e AS (SELECT CAST(d AS INT) AS digit, CAST(x AS DOUBLE) AS expected
         |      FROM (VALUES $vals) t(d, x)),
         |v AS (SELECT CAST(floor(abs(o_totalprice * 100) + 0.5) AS BIGINT) AS m
         |      FROM orders WHERE o_totalprice IS NOT NULL),
         |c AS (SELECT CAST(substr(CAST(m AS VARCHAR), 1, 1) AS INT) AS digit,
         |        CAST(count(*) AS BIGINT) AS n
         |      FROM v WHERE m > 0 GROUP BY 1),
         |tt AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS nn FROM c)
         |SELECT e.digit, CAST(coalesce(c.n, 0) AS BIGINT) AS n,
         |  floor(CAST(coalesce(c.n, 0) AS DOUBLE) / CAST(tt.nn AS DOUBLE)
         |    * 1e6 + 0.5) / 1e6 AS share,
         |  e.expected,
         |  floor(abs(CAST(coalesce(c.n, 0) AS DOUBLE) / CAST(tt.nn AS DOUBLE)
         |    - e.expected) * 1e6 + 0.5) / 1e6 AS abs_dev
         |FROM e LEFT JOIN c ON c.digit = e.digit, tt""".stripMargin
    },

    // Moments: the identical integer lattice, exact BIGINT power sums,
    // and the same left-associated central-moment double chain;
    // m2*sqrt(m2) (not pow 1.5) so both engines hit IEEE primitives
    "s28_moments" ->
      """WITH v AS (SELECT CAST(l_returnflag AS VARCHAR) AS l_returnflag,
        |        CAST(floor(l_quantity + 0.5) AS BIGINT) AS q
        |      FROM lineitem WHERE l_quantity IS NOT NULL),
        |m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(q) AS BIGINT) AS s1, CAST(sum(q*q) AS BIGINT) AS s2,
        |        CAST(sum(q*q*q) AS BIGINT) AS s3,
        |        CAST(sum(q*q*q*q) AS BIGINT) AS s4
        |      FROM v GROUP BY 1),
        |d AS (SELECT l_returnflag, n, CAST(s1 AS DOUBLE) / n AS mean,
        |        CAST(s2 AS DOUBLE) / n AS r2, CAST(s3 AS DOUBLE) / n AS r3,
        |        CAST(s4 AS DOUBLE) / n AS r4
        |      FROM m),
        |c AS (SELECT l_returnflag, n, mean,
        |        greatest(r2 - mean * mean, 0.0) AS m2,
        |        r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
        |        r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
        |          - 3.0 * mean * mean * mean * mean AS m4
        |      FROM d)
        |SELECT l_returnflag, n, floor(mean * 1e6 + 0.5) / 1e6 AS mean,
        |  CASE WHEN m2 > 0 THEN floor(m3 / (m2 * sqrt(m2)) * 1e6 + 0.5) / 1e6
        |       ELSE 0.0 END AS skewness,
        |  CASE WHEN m2 > 0 THEN floor((m4 / (m2 * m2) - 3.0) * 1e6 + 0.5) / 1e6
        |       ELSE 0.0 END AS kurt_excess
        |FROM c""".stripMargin,

    // t-closeness: the identical clamp band grid, a DENSE cell×band
    // lattice (missing bands at 0), exact integer cumulative
    // cross-multiply |cnc·N − cng·n_c| — no double accumulates
    "s10c_tcloseness" ->
      """WITH s AS (SELECT c_nationkey AS q1, c_mktsegment AS q2,
        |        CAST(greatest(0.0, least(9.0,
        |          floor((c_acctbal - (-1000.0)) / (10000.0 - (-1000.0)) * 10)))
        |          AS INT) AS band
        |      FROM customer WHERE c_acctbal IS NOT NULL),
        |cb AS (SELECT q1, q2, band, CAST(count(*) AS BIGINT) AS nb
        |       FROM s GROUP BY 1, 2, 3),
        |cells AS (SELECT q1, q2, CAST(sum(nb) AS BIGINT) AS nc
        |          FROM cb GROUP BY 1, 2),
        |gb AS (SELECT band, CAST(sum(nb) AS BIGINT) AS ngb FROM cb GROUP BY 1),
        |gt AS (SELECT CAST(sum(ngb) AS BIGINT) AS ng FROM gb),
        |bands AS (SELECT CAST(unnest(range(10)) AS INT) AS band),
        |grid AS (SELECT c.q1, c.q2, c.nc, b.band,
        |        CAST(coalesce(cb.nb, 0) AS BIGINT) AS nb,
        |        CAST(coalesce(gb.ngb, 0) AS BIGINT) AS ngb
        |      FROM cells c CROSS JOIN bands b
        |      LEFT JOIN cb ON cb.q1 = c.q1 AND cb.q2 = c.q2 AND cb.band = b.band
        |      LEFT JOIN gb ON gb.band = b.band),
        |cum AS (SELECT q1, q2, nc,
        |        CAST(sum(nb) OVER (PARTITION BY q1, q2 ORDER BY band)
        |          AS BIGINT) AS cnc,
        |        CAST(sum(ngb) OVER (PARTITION BY q1, q2 ORDER BY band)
        |          AS BIGINT) AS cng
        |      FROM grid),
        |emd AS (SELECT e.q1, e.q2, max(e.nc) AS nc, max(g.ng) AS ng,
        |        CAST(sum(abs(e.cnc * g.ng - e.cng * e.nc)) AS BIGINT) AS num
        |      FROM cum e, gt g GROUP BY 1, 2),
        |p AS (SELECT nc, floor(CAST(num AS DOUBLE)
        |        / (CAST(nc AS DOUBLE) * CAST(ng AS DOUBLE) * 9.0)
        |        * 1e6 + 0.5) / 1e6 AS emd_t FROM emd)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(coalesce(sum(CASE WHEN emd_t > 0.25 THEN 1 END), 0) AS BIGINT)
        |    AS n_risky,
        |  CAST(coalesce(sum(CASE WHEN emd_t > 0.25 THEN nc END), 0) AS BIGINT)
        |    AS rows_at_risk,
        |  max(emd_t) AS max_t
        |FROM p""".stripMargin,

    // PSI: identical band grid, epsilon-floored shares, per-band term
    // floored to micro units — the cross-band total is an exact
    // integer sum on both engines
    "s26_psi" ->
      """WITH t AS (SELECT source, CAST(n_chars AS DOUBLE) AS v FROM documents
        |           WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL),
        |c AS (SELECT CAST(greatest(0.0, least(9.0, floor((v - 0.0) / 600.0 * 10))) AS INT) AS band,
        |        CAST(coalesce(sum(CASE WHEN source = 'src0' THEN 1 END), 0) AS BIGINT) AS n_a,
        |        CAST(coalesce(sum(CASE WHEN source = 'src1' THEN 1 END), 0) AS BIGINT) AS n_b
        |      FROM t GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM c),
        |m AS (SELECT band, n_a, n_b,
        |        CAST(floor((greatest(CAST(n_a AS DOUBLE) / ta, 1e-6) - greatest(CAST(n_b AS DOUBLE) / tb, 1e-6))
        |          * ln(greatest(CAST(n_a AS DOUBLE) / ta, 1e-6) / greatest(CAST(n_b AS DOUBLE) / tb, 1e-6))
        |          * 1e6 + 0.5) AS BIGINT) AS pm
        |      FROM c, tt)
        |SELECT CAST(count(*) AS BIGINT) AS n_bands,
        |       CAST(sum(n_a) AS BIGINT) AS n_a, CAST(sum(n_b) AS BIGINT) AS n_b,
        |       CAST(sum(pm) AS DOUBLE) / 1e6 AS psi,
        |       (CAST(sum(pm) AS BIGINT) > 250000) AS drifted
        |FROM m""".stripMargin,

    // KS: D = max |cumA·nB − cumB·nA| over the distinct-value lattice
    // (exact integers; DuckDB's HUGEINT widenings cast back), one
    // double division + the 1.358 large-sample 5% critical compare
    "s25_ks_drift" ->
      s"""WITH t AS (SELECT source, CAST(len($toksSql) AS BIGINT) AS v FROM documents
         |           WHERE source IN ('src0', 'src1')),
         |c AS (SELECT v,
         |        CAST(coalesce(sum(CASE WHEN source = 'src0' THEN 1 END), 0) AS BIGINT) AS ca,
         |        CAST(coalesce(sum(CASE WHEN source = 'src1' THEN 1 END), 0) AS BIGINT) AS cb
         |      FROM t WHERE v IS NOT NULL GROUP BY 1),
         |w AS (SELECT *,
         |        sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
         |        sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb FROM c),
         |tt AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM c),
         |d AS (SELECT na, nb,
         |        CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS dd
         |      FROM w, tt GROUP BY 1, 2)
         |SELECT na AS n_a, nb AS n_b,
         |       ${Rounding.halfUpSql("CAST(dd AS DOUBLE) / CAST(na * nb AS DOUBLE)", 6)} AS ks,
         |       (CAST(dd AS DOUBLE) / CAST(na * nb AS DOUBLE) >
         |        1.358 * sqrt(CAST(na + nb AS DOUBLE) / CAST(na * nb AS DOUBLE))) AS drifted
         |FROM d""".stripMargin,

    // winsorized mean: the same tie-grouped cumulative frame as
    // s3_wquantile, boundaries by min-past-threshold, clamp·count sums
    // (integer-valued doubles — exact associative)
    "s24_winsorized" ->
      s"""WITH c AS (SELECT l_returnflag, l_quantity AS v, CAST(count(*) AS BIGINT) AS c
         |           FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
         |w AS (SELECT *,
         |        sum(c) OVER (PARTITION BY l_returnflag ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
         |        sum(c) OVER (PARTITION BY l_returnflag) AS tot FROM c),
         |b AS (SELECT l_returnflag,
         |        min(CASE WHEN cum >= 0.1 * tot THEN v END) AS lo,
         |        min(CASE WHEN cum >= 0.9 * tot THEN v END) AS hi
         |      FROM w GROUP BY 1),
         |m AS (SELECT w.l_returnflag, CAST(sum(w.c) AS BIGINT) AS n, b.lo, b.hi,
         |        sum(greatest(b.lo, least(b.hi, w.v)) * w.c) AS s
         |      FROM w JOIN b USING (l_returnflag) GROUP BY 1, 3, 4)
         |SELECT l_returnflag, n, lo, hi,
         |       ${Rounding.halfUpSql("s / n", 6)} AS winsorized_mean
         |FROM m""".stripMargin,

    // l-diversity: same grouped shape with a distinct-count; floor of
    // an IEEE double division bands identically in both engines
    "s10b_ldiversity" ->
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
        |             CAST(floor(c_acctbal / 2000) AS BIGINT) AS band FROM customer),
        |g AS (SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |             CAST(count(DISTINCT band) AS BIGINT) AS l_distinct
        |      FROM b GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(coalesce(sum(CASE WHEN l_distinct < 3 THEN 1 END), 0) AS BIGINT) AS n_risky,
        |       CAST(coalesce(sum(CASE WHEN l_distinct < 3 THEN n END), 0) AS BIGINT) AS rows_at_risk,
        |       CAST(min(l_distinct) AS BIGINT) AS min_l
        |FROM g""".stripMargin,

    // IO roundtrips: the Spark side goes parquet → graft sink → graft
    // source; the oracle reads the parquet table directly, so any
    // quoting/escaping/inference drift in the IO layer breaks the hash
    "s11_csv_roundtrip" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY 1""".stripMargin,

    "s18_orc_roundtrip" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY 1""".stripMargin,

    "s33_avro_roundtrip" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY 1""".stripMargin,

    // the WET roundtrip is body-identity: every field replays from the
    // documents table (strlen = UTF-8 bytes in DuckDB, matching
    // Spark's octet_length-derived Content-Length header)
    "s23_wet_roundtrip" ->
      """SELECT doc_id,
        |       CAST(strlen(text) AS BIGINT) AS content_length,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       text
        |FROM documents""".stripMargin,

    // replays the adversarial plant (WARC magic / record separator
    // inside bodies) and asserts body-identity through the
    // Content-Length-framed roundtrip
    "s30_wet_strict" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0
        |              THEN text || chr(13) || chr(10) || 'WARC/1.0'
        |                   || chr(13) || chr(10) || text
        |              WHEN doc_id % 5 = 1
        |              THEN 'a' || chr(13) || chr(10) || chr(13) || chr(10)
        |                   || 'b ' || text
        |              ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(strlen(text) AS BIGINT) AS content_length,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       text
        |FROM planted""".stripMargin,

    "s19_bucketed_roundtrip" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY 1""".stripMargin,

    "s12_excel_roundtrip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation""".stripMargin,

    "s13_json_bundle" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation""".stripMargin,

    "s14_xls_roundtrip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation""".stripMargin,

    "s9_prop_ci" ->
      """WITH b AS (SELECT CAST(l_returnflag AS VARCHAR) AS option,
        |             coalesce(CAST(l_quantity AS DOUBLE), 0) AS w
        |           FROM lineitem WHERE l_returnflag IS NOT NULL),
        |t AS (SELECT sum(w) AS wtot, sum(w) * sum(w) / sum(w * w) AS neff FROM b),
        |g AS (SELECT option, sum(w) AS wsum FROM b GROUP BY 1)
        |SELECT option, wsum / t.wtot AS share, t.neff AS neff,
        |       CAST(floor(1.96 * sqrt((wsum / t.wtot) * (1 - (wsum / t.wtot)) / t.neff) * 1e6 + 0.5) AS BIGINT) AS moe_micro
        |FROM g, t""".stripMargin,

    "b5_csat_weighted" ->
      """WITH m AS (SELECT max(CAST(l_quantity AS DOUBLE)) AS mx FROM lineitem),
        |b AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS s,
        |        coalesce(CAST(l_linenumber AS DOUBLE), 0) AS w FROM lineitem)
        |SELECT l_returnflag,
        |       coalesce(sum(CASE WHEN s IS NOT NULL THEN w * s END), 0)
        |         / (CASE WHEN sum(CASE WHEN s IS NOT NULL THEN w END) <> 0
        |                 THEN sum(CASE WHEN s IS NOT NULL THEN w END) END) AS mean,
        |       CASE WHEN m.mx IS NULL THEN NULL
        |            ELSE coalesce(sum(CASE WHEN s >= m.mx - 1 THEN w END), 0)
        |                   / (CASE WHEN sum(w) <> 0 THEN sum(w) END) END AS top2_box,
        |       coalesce(sum(CASE WHEN s IS NOT NULL THEN w END), 0) AS n
        |FROM b, m GROUP BY 1, m.mx""".stripMargin,

    "s3_wquantile" ->
      """WITH b AS (SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v,
        |              coalesce(CAST(l_quantity AS DOUBLE), 0) AS w
        |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |s AS (SELECT *,
        |        sum(w) OVER (PARTITION BY l_returnflag ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |        sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |      FROM b)
        |SELECT l_returnflag, min(v) AS quantile FROM s WHERE cum >= 0.5 * tot GROUP BY 1""".stripMargin,

    // identical inverted-CDF definition — the sketch route at stride 1
    // must be indistinguishable from the exact pass
    "s3b_wquantile_auto" ->
      """WITH b AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v,
        |              coalesce(CAST(l_linenumber AS DOUBLE), 0) AS w
        |           FROM lineitem WHERE l_quantity IS NOT NULL),
        |s AS (SELECT *,
        |        sum(w) OVER (PARTITION BY l_returnflag ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |        sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |      FROM b)
        |SELECT l_returnflag, min(v) AS quantile FROM s WHERE cum >= 0.5 * tot GROUP BY 1""".stripMargin,

    "s4_rake" -> rakeSql,

    "b6_rake_weighted_freq" -> rakeApplySql,

    // two-proportion z per (row, column-pair), pooled variance; same
    // formula text both engines => identical IEEE bits
    "s8_sigtest" ->
      """WITH cells AS (
        |  SELECT CAST(o_orderpriority AS VARCHAR) AS r, CAST(o_orderstatus AS VARCHAR) AS c,
        |         CAST(count(*) AS DOUBLE) AS w
        |  FROM orders WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        |  GROUP BY 1, 2),
        |cn AS (SELECT c, sum(w) AS n FROM cells GROUP BY 1),
        |pr AS (SELECT a.c AS ca, b.c AS cb, a.n AS na, b.n AS nb
        |       FROM cn a JOIN cn b ON a.c < b.c WHERE a.n > 0 AND b.n > 0),
        |rws AS (SELECT DISTINCT r FROM cells),
        |v AS (SELECT rws.r, pr.ca, pr.cb, pr.na, pr.nb,
        |        coalesce(a.w, 0) AS wa, coalesce(b.w, 0) AS wb
        |      FROM rws CROSS JOIN pr
        |      LEFT JOIN cells a ON a.r = rws.r AND a.c = pr.ca
        |      LEFT JOIN cells b ON b.r = rws.r AND b.c = pr.cb),
        |f AS (SELECT r, ca AS col_a, cb AS col_b,
        |        (wa / na) AS p1, (wb / nb) AS p2,
        |        sqrt(((wa + wb) / (na + nb)) * (1 - ((wa + wb) / (na + nb))) * (1 / na + 1 / nb)) AS den
        |      FROM v)
        |SELECT r AS o_orderpriority, col_a, col_b,
        |       CASE WHEN den > 0 THEN CAST(floor((p1 - p2) / den * 1e6 + 0.5) AS BIGINT) END AS z_micro,
        |       CASE WHEN den > 0 THEN abs((p1 - p2) / den) > 1.96 ELSE false END AS significant
        |FROM f""".stripMargin,

    "s5_sample_strat" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders
        |WHERE o_orderkey % (CASE CAST(o_orderstatus AS VARCHAR) WHEN 'O' THEN 2 WHEN 'F' THEN 5 ELSE 10 END) = 0
        |GROUP BY 1""".stripMargin,

    "j2_asof_join" ->
      """SELECT p.event_id, p.user_id,
        |       CAST(epoch_ms(p.ts) AS BIGINT) AS ts_ms,
        |       CAST(epoch_ms(c.ts) AS BIGINT) AS click_ms
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    // native ASOF + a staleness CASE: a match older than the hour
    // nulls out (never replaced by an older candidate — those are
    // older still)
    "j2b_asof_tolerance" ->
      """SELECT p.event_id, p.user_id,
        |       CAST(epoch_ms(p.ts) AS BIGINT) AS ts_ms,
        |       CASE WHEN c.ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
        |            THEN CAST(epoch_ms(c.ts) AS BIGINT) END AS click_ms
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    "b1_trend" ->
      s"""WITH g AS (SELECT CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS wave,
         |             o_orderstatus, CAST(count(*) AS DOUBLE) AS metric
         |           FROM orders GROUP BY 1, 2),
         |l AS (SELECT *, lag(metric) OVER (PARTITION BY o_orderstatus ORDER BY wave) AS prev FROM g)
         |SELECT wave, o_orderstatus, metric, prev, metric - prev AS delta,
         |       ${Rounding.halfUpSql("(metric - prev) / (CASE WHEN prev <> 0 THEN prev END) * 100", 1)} AS pct_change
         |FROM l""".stripMargin,

    "b2_nps_weighted" ->
      """WITH b AS (SELECT p_brand, CAST(p_size AS DOUBLE) AS s,
        |             coalesce(CAST(p_partkey % 5 + 1 AS DOUBLE), 0) AS wt FROM part),
        |a AS (SELECT p_brand,
        |        coalesce(sum(CASE WHEN s BETWEEN 0 AND 6 THEN wt END), 0) AS detractors,
        |        coalesce(sum(CASE WHEN s BETWEEN 7 AND 8 THEN wt END), 0) AS passives,
        |        coalesce(sum(CASE WHEN s BETWEEN 9 AND 10 THEN wt END), 0) AS promoters,
        |        coalesce(sum(CASE WHEN s IS NOT NULL THEN wt END), 0) AS n
        |      FROM b GROUP BY 1)
        |SELECT p_brand, detractors, passives, promoters, n,
        |       CASE WHEN n <> 0 THEN (promoters / n - detractors / n) * 100 END AS nps
        |FROM a""".stripMargin,

    // NOT EXISTS, not NOT IN: the latter collapses to UNKNOWN for every
    // row if the subquery ever contains a NULL key, silently diverging
    // from Spark's left_anti
    "b3_churn" ->
      """WITH m AS (SELECT CAST((min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2 AS BIGINT) AS mid FROM events),
        |e AS (SELECT DISTINCT user_id FROM events, m WHERE epoch_ms(ts) < mid),
        |l AS (SELECT DISTINCT user_id FROM events, m WHERE epoch_ms(ts) >= mid)
        |SELECT CAST(count(*) AS BIGINT) AS churned_users
        |FROM e WHERE NOT EXISTS (SELECT 1 FROM l WHERE l.user_id = e.user_id)""".stripMargin,

    // value-based deciles: boundary definition is quantile_cont ≡ Spark's
    // exact `percentile` (type-7, idx = p·(N−1), linear interpolation on
    // integer cents — identical IEEE arithmetic both engines); bucket =
    // 1 + #boundaries strictly below the value
    "b4_deciles" ->
      """WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |b AS (SELECT quantile_cont(cents, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bounds FROM c)
        |SELECT CAST(1 + len(list_filter(b.bounds, x -> c.cents > x)) AS INT) AS decile,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(c.cents) AS BIGINT) AS total_cents
        |FROM c, b GROUP BY 1""".stripMargin,

    "s6_neff" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       (sum(w) * sum(w) / sum(w * w)) AS neff,
        |       (count(*) / (sum(w) * sum(w) / sum(w * w))) AS deff
        |FROM (SELECT l_returnflag, coalesce(CAST(l_quantity AS DOUBLE), 0) AS w FROM lineitem)
        |GROUP BY 1""".stripMargin,

    // 31-base polynomial rolling hash mod 2^31-1 over codepoints of the
    // normalized token stream — same fold, left to right, both engines
    "s7_fingerprint_portable" ->
      s"""SELECT doc_id,
         |  ${polyHashSqlOf("j")} AS fingerprint
         |FROM (SELECT doc_id, array_to_string($toksSql, ' ') AS j FROM documents)""".stripMargin,

    "a8_nps_summary" ->
      """WITH c AS (
        |  SELECT CAST(count(*) FILTER (WHERE CAST(p_size AS DOUBLE) BETWEEN 0 AND 6) AS BIGINT) AS detr,
        |         CAST(count(*) FILTER (WHERE CAST(p_size AS DOUBLE) BETWEEN 7 AND 8) AS BIGINT) AS pass,
        |         CAST(count(*) FILTER (WHERE CAST(p_size AS DOUBLE) BETWEEN 9 AND 10) AS BIGINT) AS prom,
        |         CAST(count(p_size) AS BIGINT) AS n
        |  FROM part)
        |SELECT 'nps' AS metric, (CAST(prom AS DOUBLE) / n - CAST(detr AS DOUBLE) / n) * 100 AS "value" FROM c
        |UNION ALL SELECT 'n', CAST(n AS DOUBLE) FROM c
        |UNION ALL SELECT 'promoters', CAST(prom AS DOUBLE) FROM c
        |UNION ALL SELECT 'passives', CAST(pass AS DOUBLE) FROM c
        |UNION ALL SELECT 'detractors', CAST(detr AS DOUBLE) FROM c""".stripMargin,

    "t5_codebook_recode" ->
      """SELECT CASE WHEN CAST(n_regionkey AS VARCHAR) = '0' THEN 'AFRICA'
        |            WHEN CAST(n_regionkey AS VARCHAR) = '1' THEN 'AMERICA'
        |            WHEN CAST(n_regionkey AS VARCHAR) = '2' THEN 'ASIA'
        |            ELSE CAST(n_regionkey AS VARCHAR) END AS n_regionkey,
        |       CAST(count(*) AS BIGINT) AS "count"
        |FROM nation GROUP BY 1""".stripMargin,

    "t5b_codebook_file" ->
      """SELECT CASE WHEN CAST(n_regionkey AS VARCHAR) = '0' THEN 'AFRICA'
        |            WHEN CAST(n_regionkey AS VARCHAR) = '1' THEN 'AMERICA'
        |            WHEN CAST(n_regionkey AS VARCHAR) = '2' THEN 'ASIA'
        |            ELSE CAST(n_regionkey AS VARCHAR) END AS n_regionkey,
        |       CAST(count(*) AS BIGINT) AS "count"
        |FROM nation GROUP BY 1""".stripMargin,

    "t10_brand_dictionary" ->
      """SELECT DISTINCT trim(CAST(c_mktsegment AS VARCHAR)) AS brand
        |FROM customer
        |WHERE c_mktsegment IS NOT NULL AND trim(CAST(c_mktsegment AS VARCHAR)) <> ''""".stripMargin,

    "o3_sort_limit" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 20",

    "u1_union_funnel" ->
      """SELECT 'o_orderstatus' AS brand, CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL AND trim(CAST(o_orderstatus AS VARCHAR)) <> '' AND lower(CAST(o_orderstatus AS VARCHAR)) <> '0') AS BIGINT) AS "count", 'ever_used' AS stage FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', CAST(count(*) FILTER (WHERE o_orderpriority IS NOT NULL AND trim(CAST(o_orderpriority AS VARCHAR)) <> '' AND lower(CAST(o_orderpriority AS VARCHAR)) <> '0') AS BIGINT), 'consider' FROM orders""".stripMargin,

    "j1_join_enrich" ->
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS acctbal_cents
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    // same perturbation, same per-column profile arithmetic; distinct
    // counts ignore nulls in both engines
    "s22_profile_diff" -> {
      def side(src: String, suffix: String) =
        Seq("c_mktsegment", "c_nationkey").map { c =>
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows_$suffix,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_$suffix,
             |  CAST(count(DISTINCT CAST($c AS VARCHAR)) AS BIGINT) AS n_distinct_$suffix
             |FROM $src""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""WITH b AS (SELECT c_custkey,
         |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment,
         |    c_nationkey
         |  FROM customer WHERE c_custkey % 5 <> 0),
         |pa AS (${side("customer", "a")}),
         |pb AS (${side("b", "b")})
         |SELECT col_name, n_rows_a, n_null_a, n_distinct_a,
         |       n_rows_b, n_null_b, n_distinct_b,
         |       ${Rounding.halfUpSql(
                 "CAST(n_null_b AS DOUBLE) / n_rows_b - CAST(n_null_a AS DOUBLE) / n_rows_a", 9)} AS null_rate_delta
         |FROM pa JOIN pb USING (col_name)""".stripMargin
    },

    // Pearson from the same exact long moments, same double formula
    // (DuckDB's sum(int) is HUGEINT — exact; the DOUBLE casts land on
    // identical values ≤ 2^53). CAST(l_quantity AS BIGINT) diverges
    // from Spark's truncating cast only on non-integer values, which
    // l_quantity doesn't have (the a2 contract).
    "s21_corr" -> {
      val names = Seq("l_linenumber", "qty", "disc_cents", "tax_cents")
      def d(x: String) = s"CAST($x AS DOUBLE)"
      def varD(i: Int) = s"(${d("n")} * ${d(s"q$i")} - ${d(s"s$i")} * ${d(s"s$i")})"
      def rSql(i: Int, j: Int) = Rounding.halfUpSql(
        s"CASE WHEN ${varD(i)} > 0 AND ${varD(j)} > 0 THEN " +
          s"(${d("n")} * ${d(s"p${i}_$j")} - ${d(s"s$i")} * ${d(s"s$j")}) / " +
          s"(sqrt(${varD(i)}) * sqrt(${varD(j)})) END", 9)
      val pairIdx = for { i <- names.indices; j <- names.indices if i < j } yield (i, j)
      val moments =
        (names.indices.map(i => s"sum(${names(i)}) AS s$i") ++
          names.indices.map(i => s"sum(${names(i)} * ${names(i)}) AS q$i") ++
          pairIdx.map { case (i, j) => s"sum(${names(i)} * ${names(j)}) AS p${i}_$j" } :+
          "count(*) AS n").mkString(", ")
      val branches = pairIdx.map { case (i, j) =>
        s"SELECT '${names(i)}' AS col_a, '${names(j)}' AS col_b, n, ${rSql(i, j)} AS r FROM m"
      }.mkString("\nUNION ALL\n")
      s"""WITH b AS (SELECT l_linenumber, CAST(l_quantity AS BIGINT) AS qty,
         |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_cents,
         |    CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tax_cents
         |  FROM lineitem
         |  WHERE l_linenumber IS NOT NULL AND l_quantity IS NOT NULL
         |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
         |m AS (SELECT $moments FROM b)
         |$branches""".stripMargin
    },

    // same affine hash and identical rate arithmetic:
    // u < least(1, 0.2 * (w * n / ws))
    // the aggregate's (hash desc, key asc) order == the window's;
    // CRT pair of seeded affine hashes (seed 42 → multipliers
    // 514272 / 741146) combined as h1*P2 + h2 — injective below
    // P1*P2 ≈ 1.2e18 keys, every product BIGINT-safe in both engines
    "s20_sample_pergroup" ->
      """WITH h AS (SELECT o_orderstatus, o_orderkey,
        |        ((o_orderkey % 1073741789) * 514272) % 1073741789 * 1073741783
        |          + ((o_orderkey % 1073741783) * 741146) % 1073741783 AS hv
        |      FROM orders),
        |r AS (SELECT o_orderstatus, o_orderkey,
        |        row_number() OVER (PARTITION BY o_orderstatus ORDER BY hv DESC, o_orderkey) AS rn
        |      FROM h)
        |SELECT o_orderstatus, o_orderkey FROM r WHERE rn <= 10""".stripMargin,

    "s17_sample_weighted" ->
      """WITH st AS (SELECT CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ws,
        |                   CAST(count(l_quantity) AS BIGINT) AS wn
        |            FROM lineitem),
        |k AS (SELECT l.l_returnflag, l.l_quantity
        |      FROM lineitem l, st
        |      WHERE CAST(((l.l_orderkey * 8 + l.l_linenumber) % 1000003) * 514229 + 741103 AS BIGINT) % 1000003
        |            / 1000003.0
        |            < least(1.0, 0.2 * (CAST(l.l_quantity AS DOUBLE) * st.wn / st.ws)))
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_kept,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_kept
        |FROM k GROUP BY 1""".stripMargin,

    // identical operation order: mean = s/n, var = (ss - s*s/n)/(n-1),
    // z = (x - mean)/sqrt(var), all from exact integer moments
    "s16_zscore" ->
      """WITH st AS (SELECT p_brand,
        |              CAST(sum(CAST(p_size AS BIGINT)) AS BIGINT) AS s,
        |              CAST(sum(CAST(p_size AS BIGINT) * CAST(p_size AS BIGINT)) AS BIGINT) AS ss,
        |              CAST(count(p_size) AS BIGINT) AS n
        |            FROM part GROUP BY 1)
        |SELECT p.p_partkey, p.p_size,
        |       floor((CASE WHEN n >= 2 AND ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) > 0
        |              THEN (CAST(p.p_size AS DOUBLE) - CAST(s AS DOUBLE) / n)
        |                   / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) END) * 1000000000 + 0.5) / 1000000000 AS z
        |FROM part p JOIN st ON p.p_brand = st.p_brand""".stripMargin,

    "s15_profile" ->
      """SELECT 'c_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(*) - count(c_custkey) AS BIGINT) AS n_null,
        |       CAST(count(DISTINCT CAST(c_custkey AS VARCHAR)) AS BIGINT) AS n_distinct
        |FROM customer
        |UNION ALL
        |SELECT 'c_mktsegment', CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(c_mktsegment) AS BIGINT),
        |       CAST(count(DISTINCT CAST(c_mktsegment AS VARCHAR)) AS BIGINT)
        |FROM customer
        |UNION ALL
        |SELECT 'c_nationkey', CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(c_nationkey) AS BIGINT),
        |       CAST(count(DISTINCT CAST(c_nationkey AS VARCHAR)) AS BIGINT)
        |FROM customer""".stripMargin,

    // exact-mode Space-Saving == plain top-3 by (count desc, value asc);
    // exact-mode sketch p50 == lower median (min value whose cumulative
    // count reaches half the total). Only the integral columns emit
    // rows (c_mktsegment's empty top_values explodes away).
    "s15b_profile_topk" -> {
      def perCol(c: String) =
        s"""SELECT '$c' AS col_name,
           |       (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_rows,
           |       (SELECT CAST(count(*) - count($c) AS BIGINT) FROM customer) AS n_null,
           |       (SELECT CAST(count(DISTINCT CAST($c AS VARCHAR)) AS BIGINT) FROM customer) AS n_distinct,
           |       (SELECT CAST(min(v) AS BIGINT) FROM (
           |          SELECT CAST($c AS BIGINT) AS v,
           |                 CAST(count(*) AS BIGINT) AS cnt,
           |                 sum(count(*)) OVER (ORDER BY CAST($c AS BIGINT)) AS cum,
           |                 sum(count(*)) OVER () AS tot
           |          FROM customer WHERE $c IS NOT NULL GROUP BY 1)
           |        WHERE CAST(cum AS DOUBLE) >= 0.5 * CAST(tot AS DOUBLE)) AS p50,
           |       CAST(rank AS INT) AS rank, top_value, top_count
           |FROM (SELECT CAST($c AS BIGINT) AS top_value,
           |             CAST(count(*) AS BIGINT) AS top_count,
           |             row_number() OVER (ORDER BY count(*) DESC, CAST($c AS BIGINT) ASC) AS rank
           |      FROM customer WHERE $c IS NOT NULL GROUP BY 1)
           |WHERE rank <= 3""".stripMargin
      perCol("c_custkey") + "\nUNION ALL\n" + perCol("c_nationkey")
    },

    "j3_salted_join" ->
      """WITH ut AS (SELECT user_id, CAST(count(*) AS BIGINT) AS user_events FROM events GROUP BY 1)
        |SELECT e.event_type,
        |       CAST(sum(ut.user_events) AS BIGINT) AS sum_user_events,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events e JOIN ut ON e.user_id = ut.user_id
        |GROUP BY 1""".stripMargin,

    // plain BETWEEN theta-join — DuckDB's IEJoin handles it natively;
    // the Spark side must reach the identical result through the binned
    // equi-join decomposition
    "j4_range_join" ->
      """WITH b AS (SELECT p_partkey AS band, p_retailprice * 10 AS lo,
        |             p_retailprice * 10 + 5000 + (p_partkey % 7) * 3000 AS hi
        |           FROM part WHERE p_partkey <= 100)
        |SELECT b.band, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem l JOIN b ON l.l_extendedprice >= b.lo AND l.l_extendedprice <= b.hi
        |GROUP BY 1""".stripMargin,

    // interval overlap as the plain two-sided inequality join — the
    // Spark side must reach the identical rollup through the binned
    // decomposition + first-shared-bin election
    "j5_interval_join" ->
      """WITH b AS (SELECT p_partkey AS band, p_retailprice * 10 AS lo,
        |             p_retailprice * 10 + 5000 + (p_partkey % 7) * 3000 AS hi
        |           FROM part WHERE p_partkey <= 100),
        |v AS (SELECT l_extendedprice - l_linenumber * 200 AS s,
        |             l_extendedprice + 300 AS e
        |      FROM lineitem WHERE l_orderkey % 7 = 0)
        |SELECT b.band, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(v.s * 100 + 0.5) AS BIGINT)) AS BIGINT) AS start_cents
        |FROM b JOIN v ON b.lo <= v.e AND v.s <= b.hi
        |GROUP BY 1""".stripMargin,

    // robust outliers: type-1 lower medians over tie groups ((n+1)//2
    // cumulative threshold), exact integer deviations, k=3 MAD fence
    "s32_robust_outliers" ->
      """WITH c AS (SELECT CAST(source AS VARCHAR) AS slice, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT *, sum(c) OVER (PARTITION BY slice ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |        sum(c) OVER (PARTITION BY slice) AS tot FROM c),
        |m AS (SELECT slice, CAST(max(tot) AS BIGINT) AS n,
        |        min(CASE WHEN cum >= (tot + 1) // 2 THEN v END) AS median FROM w GROUP BY 1),
        |d AS (SELECT c.slice, abs(c.v - m.median) AS v, CAST(sum(c.c) AS BIGINT) AS c
        |      FROM c JOIN m USING (slice) GROUP BY 1, 2),
        |w2 AS (SELECT *, sum(c) OVER (PARTITION BY slice ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |        sum(c) OVER (PARTITION BY slice) AS tot FROM d),
        |m2 AS (SELECT slice, min(CASE WHEN cum >= (tot + 1) // 2 THEN v END) AS mad FROM w2 GROUP BY 1)
        |SELECT d.slice, m.n, m.median, m2.mad,
        |       CAST(coalesce(sum(CASE WHEN d.v > m2.mad * 3 THEN d.c END), 0) AS BIGINT) AS n_outliers,
        |       max(d.v) AS max_dev
        |FROM d JOIN m USING (slice) JOIN m2 USING (slice)
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // skew advisor: exact counts, integer micro-share and ceil-div
    // salt, deterministic (n desc, key asc) top-25 head
    "s31_skew_advisor" ->
      """WITH c AS (SELECT coalesce(CAST(user_id AS VARCHAR), 'null') AS key,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM c)
        |SELECT key, n, CAST(n * 1000000 // tt AS BIGINT) AS share_micro,
        |       CAST((n + 31) // 32 AS BIGINT) AS salt,
        |       (n > 32) AS skewed
        |FROM c, t
        |ORDER BY n DESC, key ASC
        |LIMIT 25""".stripMargin,

    // per-slice average-rank percentile over tie groups — the exact
    // integer identity, single-value slices at the 500000 midpoint
    "x_stats_ranknorm" ->
      """WITH g AS (SELECT lang, n_chars, CAST(count(*) AS BIGINT) AS ties
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (SELECT lang, n_chars, ties,
        |    CAST(sum(ties) OVER (PARTITION BY lang ORDER BY n_chars
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(ties) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM g)
        |SELECT lang, n_chars, ties,
        |  CAST(CASE WHEN n > 1
        |        THEN ((2 * (cum - ties) + ties - 1) * 1000000) // (2 * (n - 1))
        |        ELSE 500000 END AS BIGINT) AS pct_micro
        |FROM w""".stripMargin,

    // equi-depth bins on the rank-normalize identity: a tie group
    // lands whole in min(pct·nbins // 1e6, nbins-1)
    "x_stats_eqdepth" ->
      """WITH g AS (SELECT lang, n_chars, CAST(count(*) AS BIGINT) AS ties
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (SELECT lang, n_chars, ties,
        |    CAST(sum(ties) OVER (PARTITION BY lang ORDER BY n_chars
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(ties) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM g),
        |p AS (SELECT lang, n_chars, ties,
        |    CAST(CASE WHEN n > 1
        |          THEN ((2 * (cum - ties) + ties - 1) * 1000000) // (2 * (n - 1))
        |          ELSE 500000 END AS BIGINT) AS pct_micro
        |  FROM w),
        |b AS (SELECT lang, n_chars, ties,
        |    least((pct_micro * 8) // 1000000, 7) AS bin FROM p)
        |SELECT lang, CAST(bin AS BIGINT) AS bin, CAST(sum(ties) AS BIGINT) AS n_rows,
        |       CAST(count(*) AS BIGINT) AS n_values,
        |       min(n_chars) AS lo, max(n_chars) AS hi
        |FROM b GROUP BY 1, 2""".stripMargin,

    // exact AUC by the doubled-rank Mann-Whitney identity over the
    // (slice, score) tie-group lattice; halfUp-6 on the one derived
    // double
    "x_stats_auc" ->
      s"""WITH c AS (SELECT source AS slice, lang = 'en' AS pos, CAST(n_chars AS BIGINT) AS v
         |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL),
         |g AS (SELECT slice, v, CAST(count(*) AS BIGINT) AS c,
         |        CAST(coalesce(sum(CASE WHEN pos THEN 1 END), 0) AS BIGINT) AS p
         |      FROM c GROUP BY 1, 2),
         |w AS (SELECT *, CAST(sum(c) OVER (PARTITION BY slice ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM g),
         |s AS (SELECT slice, CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(c - p) AS BIGINT) AS n_neg,
         |        CAST(sum(p * (2 * cum - c + 1)) AS BIGINT) AS rank2_pos
         |      FROM w GROUP BY 1)
         |SELECT slice, n_pos, n_neg, rank2_pos,
         |       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |         ${graft.ops.Rounding.halfUpSql("CAST(rank2_pos - n_pos * (n_pos + 1) AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE)", 6)}
         |       END AS auc
         |FROM s""".stripMargin,

    // precision/recall/F1 at the literal threshold list — integer
    // micro ratios, NULL denominators in-band
    "x_stats_pr" ->
      """WITH c AS (SELECT source AS slice, lang = 'en' AS pos, CAST(n_chars AS BIGINT) AS v
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL),
        |t AS (SELECT unnest([100, 300, 600, 1200]) AS threshold),
        |a AS (SELECT slice, t.threshold,
        |        CAST(count(*) AS BIGINT) AS n,
        |        CAST(coalesce(sum(CASE WHEN pos THEN 1 END), 0) AS BIGINT) AS n_pos,
        |        CAST(coalesce(sum(CASE WHEN pos AND v >= t.threshold THEN 1 END), 0) AS BIGINT) AS tp,
        |        CAST(coalesce(sum(CASE WHEN NOT pos AND v >= t.threshold THEN 1 END), 0) AS BIGINT) AS fp
        |      FROM c CROSS JOIN t GROUP BY 1, 2),
        |p AS (SELECT *,
        |        CASE WHEN tp + fp > 0 THEN CAST((tp * 1000000) // (tp + fp) AS BIGINT) END AS precision_micro,
        |        CASE WHEN n_pos > 0 THEN CAST((tp * 1000000) // n_pos AS BIGINT) END AS recall_micro
        |      FROM a)
        |SELECT slice, CAST(threshold AS BIGINT) AS threshold, n, n_pos, tp, fp,
        |       CAST(n_pos - tp AS BIGINT) AS fn, precision_micro, recall_micro,
        |       CAST(CASE WHEN precision_micro IS NOT NULL AND recall_micro IS NOT NULL
        |                  AND precision_micro + recall_micro > 0
        |             THEN (2 * precision_micro * recall_micro) // (precision_micro + recall_micro)
        |            END AS BIGINT) AS f1_micro
        |FROM p""".stripMargin,

    // chi-square over the dense lattice: exact long numerator
    // (o·n − ra·cb) before the one double division per cell, each term
    // micro-rounded then summed; halfUp-6 Cramér's V
    "x_stats_chi2" ->
      s"""WITH cells AS (SELECT lang AS va, source AS vb, CAST(count(*) AS BIGINT) AS o
         |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
         |ra AS (SELECT va, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
         |cb AS (SELECT vb, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
         |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         |lat AS (SELECT ra.va, cb.vb, ra.ra, cb.cb, CAST(coalesce(c.o, 0) AS BIGINT) AS o, tot.n
         |        FROM ra CROSS JOIN cb CROSS JOIN tot
         |        LEFT JOIN cells c ON ra.va = c.va AND cb.vb = c.vb),
         |t AS (SELECT *, CAST(floor((CAST(o * n - ra * cb AS DOUBLE) * CAST(o * n - ra * cb AS DOUBLE)
         |        / CAST(ra * cb AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS tm
         |      FROM lat),
         |a AS (SELECT CAST(max(n) AS BIGINT) AS n, CAST(count(DISTINCT va) AS BIGINT) AS n_a,
         |        CAST(count(DISTINCT vb) AS BIGINT) AS n_b, CAST(sum(tm) AS BIGINT) AS chi2_micro
         |      FROM t)
         |SELECT n, n_a, n_b, CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof, chi2_micro,
         |       CASE WHEN n > 0 AND least(n_a, n_b) > 1 THEN
         |         ${graft.ops.Rounding.halfUpSql("sqrt(CAST(chi2_micro AS DOUBLE) / 1000000.0 / CAST(n * (least(n_a, n_b) - 1) AS DOUBLE))", 6)}
         |       END AS cramers_v
         |FROM a""".stripMargin,

    // quantile normalization: the rankNormalize identity per slice,
    // pooled cumulative lattice, the union+frame-min as-of lookup
    // (probe tag sorts FIRST at equal keys, so cum == T is inclusive)
    "x_stats_qnorm" ->
      """WITH base AS (SELECT lang AS slice, CAST(n_chars AS BIGINT) AS v
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |g AS (SELECT slice, v, CAST(count(*) AS BIGINT) AS ties FROM base GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(sum(ties) OVER (PARTITION BY slice ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(ties) OVER (PARTITION BY slice) AS BIGINT) AS n
        |  FROM g),
        |sl AS (SELECT slice, v, ties, n, 2 * (cum - ties) + ties - 1 AS num,
        |    CAST(CASE WHEN n > 1 THEN ((2 * (cum - ties) + ties - 1) * 1000000) // (2 * (n - 1))
        |         ELSE 500000 END AS BIGINT) AS pct_micro
        |  FROM w),
        |pg AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1),
        |pw AS (SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM pg),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM pg),
        |pr AS (SELECT sl.slice, sl.v, sl.ties, sl.pct_micro,
        |         CAST(CASE WHEN sl.n > 1 THEN (sl.num * (tot.n - 1)) // (2 * (sl.n - 1)) + 1
        |              ELSE (tot.n - 1) // 2 + 1 END AS BIGINT) AS key,
        |         0 AS tag, CAST(NULL AS BIGINT) AS w
        |       FROM sl, tot),
        |pl AS (SELECT CAST(NULL AS VARCHAR) AS slice, CAST(NULL AS BIGINT) AS v,
        |         CAST(NULL AS BIGINT) AS ties, CAST(NULL AS BIGINT) AS pct_micro,
        |         pw.cum AS key, 1 AS tag, pw.v AS w
        |       FROM pw),
        |u AS (SELECT * FROM pr UNION ALL SELECT * FROM pl),
        |m AS (SELECT *, min(w) OVER (ORDER BY key, tag
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS mapped_value
        |      FROM u)
        |SELECT slice, v AS value, ties, pct_micro,
        |       CAST(mapped_value AS BIGINT) AS mapped_value
        |FROM m WHERE tag = 0""".stripMargin,

    // Poisson bootstrap: the oracle replays the SAME portable affine
    // hash, per-replica multipliers and Poisson thresholds (Scala
    // literals interpolated, never re-derived) — but explodes rows x R
    // where the engine carries 2R+2 conditional sums in one aggregate
    "x_stats_bootstrap" -> {
      val p = graft.functions.PortableHash.P
      val ms = graft.ops.Stats.bootstrapMultipliers(64, 0L)
      val ts = graft.ops.Stats.PoissonThresholdsP
      val mvals = ms.zipWithIndex.map { case (m, r) => s"($r, $m)" }.mkString(", ")
      val whenParts = ts.zipWithIndex.map { case (t, i) => s"WHEN u < $t THEN $i" }.mkString(" ")
      s"""WITH base AS (
         |  SELECT o_orderpriority AS grp,
         |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
         |         ((o_orderkey % $p + $p) % $p * 514229 + 741103) % $p AS h
         |  FROM orders
         |  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
         |    AND o_orderkey IS NOT NULL),
         |m AS (SELECT * FROM (VALUES $mvals) t(r, mul)),
         |draws AS (SELECT grp, x, r, ((h + 1) * mul + r) % $p AS u
         |          FROM base CROSS JOIN m),
         |cnt AS (SELECT grp, r, x, CASE $whenParts ELSE 8 END AS c FROM draws),
         |rep AS (SELECT grp, r, CAST(sum(c * x) AS BIGINT) AS s2,
         |               CAST(sum(c) AS BIGINT) AS nr
         |        FROM cnt GROUP BY 1, 2),
         |live AS (SELECT grp, r,
         |           CAST(CASE WHEN s2 < 0
         |                THEN -((-CAST(s2 AS HUGEINT) * 1000000) // nr)
         |                ELSE (CAST(s2 AS HUGEINT) * 1000000) // nr
         |                END AS BIGINT) AS mm
         |         FROM rep WHERE nr > 0),
         |rk AS (SELECT grp, r, mm,
         |         row_number() OVER (PARTITION BY grp ORDER BY mm, r) AS rk,
         |         count(*) OVER (PARTITION BY grp) AS nl
         |       FROM live),
         |ci AS (SELECT grp,
         |         min(CASE WHEN rk = (nl * 5) // 200 + 1 THEN mm END) AS ci_lo,
         |         min(CASE WHEN rk = nl - (nl * 5) // 200 THEN mm END) AS ci_hi,
         |         max(nl) AS n_live
         |       FROM rk GROUP BY 1),
         |tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |               CAST(sum(x) AS BIGINT) AS sx
         |        FROM base GROUP BY 1)
         |SELECT tot.grp AS o_orderpriority, tot.n,
         |       CAST(CASE WHEN sx < 0
         |            THEN -((-CAST(sx AS HUGEINT) * 1000000) // n)
         |            ELSE (CAST(sx AS HUGEINT) * 1000000) // n
         |            END AS BIGINT) AS mean_micro,
         |       CAST(ci_lo AS BIGINT) AS ci_lo_micro,
         |       CAST(ci_hi AS BIGINT) AS ci_hi_micro,
         |       CAST(COALESCE(n_live, 0) AS BIGINT) AS n_live
         |FROM tot LEFT JOIN ci USING (grp)""".stripMargin
    },

    // KMV overlap: k smallest distinct poly-hashes per side via
    // ORDER BY + LIMIT (the oracle may sort; the engine's aggregate
    // never does), then the same integer estimator arithmetic
    "x_stats_kmv" -> {
      val kk = 256
      val numer = (kk - 1).toLong * 2147483647L
      s"""WITH ha AS (SELECT DISTINCT ${kmvHashSqlOf("text")} AS h
         |      FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL),
         |hb AS (SELECT DISTINCT ${kmvHashSqlOf("text")} AS h
         |      FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL),
         |sa AS (SELECT h FROM ha ORDER BY h LIMIT $kk),
         |sb AS (SELECT h FROM hb ORDER BY h LIMIT $kk),
         |f AS (SELECT (SELECT count(*) FROM sa) AS ka,
         |             (SELECT count(*) FROM sb) AS kb),
         |fx AS (SELECT ka, kb, (ka < $kk AND kb < $kk) AS ex FROM f),
         |mu AS (SELECT DISTINCT h FROM
         |        (SELECT h FROM sa UNION ALL SELECT h FROM sb)),
         |mg AS (SELECT h FROM mu ORDER BY h LIMIT $kk),
         |cand AS (SELECT h FROM mu WHERE (SELECT ex FROM fx)
         |         UNION ALL
         |         SELECT h FROM mg WHERE NOT (SELECT ex FROM fx)),
         |jj AS (SELECT count(*) AS j FROM cand
         |       JOIN sa USING (h) JOIN sb USING (h)),
         |e1 AS (SELECT fx.ka, fx.kb, fx.ex, jj.j,
         |         CASE WHEN fx.ka < $kk THEN fx.ka
         |              ELSE $numer // (SELECT max(h) FROM sa) END AS ea,
         |         CASE WHEN fx.kb < $kk THEN fx.kb
         |              ELSE $numer // (SELECT max(h) FROM sb) END AS eb,
         |         CASE WHEN fx.ex THEN (SELECT count(*) FROM mu)
         |              ELSE $numer // (SELECT max(h) FROM mg) END AS eu
         |       FROM fx, jj),
         |e2 AS (SELECT *,
         |         CASE WHEN ex THEN j ELSE (j * eu) // $kk END AS ei
         |       FROM e1)
         |SELECT CAST($kk AS BIGINT) AS k,
         |       CAST(ka AS BIGINT) AS n_a_kept, CAST(kb AS BIGINT) AS n_b_kept,
         |       CAST(ea AS BIGINT) AS est_distinct_a,
         |       CAST(eb AS BIGINT) AS est_distinct_b,
         |       CAST(eu AS BIGINT) AS est_union,
         |       CAST(ei AS BIGINT) AS est_intersect,
         |       CAST(CASE WHEN eu > 0 THEN (ei * 1000000) // eu END AS BIGINT)
         |         AS jaccard_micro,
         |       ex AS exact
         |FROM e2""".stripMargin
    },

    // KMV matrix: per-slice k smallest distinct hashes via a ranked
    // window, pair CTEs replaying the same estimator per (sa, sb)
    "x_stats_kmv_matrix" -> {
      val kk = 128
      val numer = (kk - 1).toLong * 2147483647L
      s"""WITH h0 AS (SELECT CAST(lang AS VARCHAR) AS s, ${kmvHashSqlOf("text")} AS h
         |      FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
         |      GROUP BY 1, 2),
         |r AS (SELECT s, h, row_number() OVER (PARTITION BY s ORDER BY h) AS rn FROM h0),
         |sk AS (SELECT s, h FROM r WHERE rn <= $kk),
         |c AS (SELECT s, count(*) AS ks FROM sk GROUP BY 1),
         |p AS (SELECT a.s AS sa, a.ks AS ka, b.s AS sb, b.ks AS kb,
         |             (a.ks < $kk AND b.ks < $kk) AS ex
         |      FROM c a JOIN c b ON a.s < b.s),
         |u AS (SELECT DISTINCT p.sa, p.sb, x.h
         |      FROM p JOIN sk x ON x.s = p.sa OR x.s = p.sb),
         |ur AS (SELECT sa, sb, h,
         |         row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn,
         |         count(*) OVER (PARTITION BY sa, sb) AS nmu
         |       FROM u),
         |tau AS (SELECT sa, sb, max(CASE WHEN rn <= $kk THEN h END) AS tu,
         |               max(nmu) AS nmu FROM ur GROUP BY 1, 2),
         |cand AS (SELECT ur.sa, ur.sb, ur.h
         |         FROM ur JOIN p ON p.sa = ur.sa AND p.sb = ur.sb
         |         WHERE p.ex OR ur.rn <= $kk),
         |jj AS (SELECT c2.sa, c2.sb, count(*) AS j
         |       FROM cand c2 JOIN sk x ON x.s = c2.sa AND x.h = c2.h
         |                    JOIN sk y ON y.s = c2.sb AND y.h = c2.h
         |       GROUP BY 1, 2),
         |ta AS (SELECT s, max(h) AS t FROM sk GROUP BY 1),
         |e1 AS (SELECT p.sa, p.sb, p.ka, p.kb, p.ex,
         |         COALESCE(jj.j, 0) AS j,
         |         CASE WHEN p.ka < $kk THEN p.ka ELSE $numer // taA.t END AS ea,
         |         CASE WHEN p.kb < $kk THEN p.kb ELSE $numer // taB.t END AS eb,
         |         CASE WHEN p.ex THEN tau.nmu ELSE $numer // tau.tu END AS eu
         |       FROM p JOIN tau ON tau.sa = p.sa AND tau.sb = p.sb
         |              JOIN ta taA ON taA.s = p.sa
         |              JOIN ta taB ON taB.s = p.sb
         |              LEFT JOIN jj ON jj.sa = p.sa AND jj.sb = p.sb),
         |e2 AS (SELECT *, CASE WHEN ex THEN j ELSE (j * eu) // $kk END AS ei
         |       FROM e1)
         |SELECT sa AS slice_a, sb AS slice_b,
         |       CAST(ka AS BIGINT) AS n_a_kept, CAST(kb AS BIGINT) AS n_b_kept,
         |       CAST(ea AS BIGINT) AS est_distinct_a,
         |       CAST(eb AS BIGINT) AS est_distinct_b,
         |       CAST(eu AS BIGINT) AS est_union,
         |       CAST(ei AS BIGINT) AS est_intersect,
         |       CAST(CASE WHEN eu > 0 THEN (ei * 1000000) // eu END AS BIGINT)
         |         AS jaccard_micro,
         |       ex AS exact
         |FROM e2""".stripMargin
    },

    // Welch's t: exact long moments, then the identical double tree
    // term by term (variance numerators are exact integers < 2^53)
    "x_stats_welch" -> {
      def dd(x: String) = s"CAST($x AS DOUBLE)"
      val meanA = s"${dd("sa")} / ${dd("n_a")}"
      val meanB = s"${dd("sb")} / ${dd("n_b")}"
      val varA = s"(${dd("n_a")} * ${dd("qa")} - ${dd("sa")} * ${dd("sa")}) / (${dd("n_a")} * (${dd("n_a")} - 1.0))"
      val varB = s"(${dd("n_b")} * ${dd("qb")} - ${dd("sb")} * ${dd("sb")}) / (${dd("n_b")} * (${dd("n_b")} - 1.0))"
      val seA = s"(($varA) / ${dd("n_a")})"
      val seB = s"(($varB) / ${dd("n_b")})"
      val se2 = s"($seA + $seB)"
      val t = s"(($meanA - $meanB) / sqrt($se2))"
      val dfW = s"(($se2 * $se2) / ($seA * $seA / (${dd("n_a")} - 1.0) + $seB * $seB / (${dd("n_b")} - 1.0)))"
      s"""WITH m AS (SELECT
         |  CAST(coalesce(sum(CASE WHEN lang = 'en' THEN 1 END), 0) AS BIGINT) AS n_a,
         |  CAST(coalesce(sum(CASE WHEN lang = 'en' THEN n_chars END), 0) AS BIGINT) AS sa,
         |  CAST(coalesce(sum(CASE WHEN lang = 'en' THEN n_chars * n_chars END), 0) AS BIGINT) AS qa,
         |  CAST(coalesce(sum(CASE WHEN lang = 'zh' THEN 1 END), 0) AS BIGINT) AS n_b,
         |  CAST(coalesce(sum(CASE WHEN lang = 'zh' THEN n_chars END), 0) AS BIGINT) AS sb,
         |  CAST(coalesce(sum(CASE WHEN lang = 'zh' THEN n_chars * n_chars END), 0) AS BIGINT) AS qb
         |  FROM documents WHERE n_chars IS NOT NULL AND lang IN ('en', 'zh'))
         |SELECT n_a, n_b,
         |  CASE WHEN n_a > 0 THEN ${graft.ops.Rounding.halfUpSql(meanA, 6)} END AS mean_a,
         |  CASE WHEN n_b > 0 THEN ${graft.ops.Rounding.halfUpSql(meanB, 6)} END AS mean_b,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND $se2 > 0 THEN ${graft.ops.Rounding.halfUpSql(t, 6)} END AS t_welch,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND $se2 > 0 THEN ${graft.ops.Rounding.halfUpSql(dfW, 6)} END AS df_welch
         |FROM m""".stripMargin
    },

    // DiD: the same four conditional cells, sign-factored micro means,
    // integer DiD subtraction — epoch-micro date cut (never a raw
    // timestamp interval, the events NANOS rule)
    "x_stats_did" -> {
      def cellSql(cond: String, suf: String) =
        s"""CAST(coalesce(sum(CASE WHEN $cond THEN 1 END), 0) AS BIGINT) AS n_$suf,
           |  CAST(coalesce(sum(CASE WHEN $cond THEN v END), 0) AS BIGINT) AS s_$suf""".stripMargin
      def meanSql(suf: String) =
        s"""CASE WHEN n_$suf > 0 THEN
           |  CAST(CASE WHEN s_$suf < 0
           |       THEN -((-CAST(s_$suf AS HUGEINT) * 1000000) // n_$suf)
           |       ELSE (CAST(s_$suf AS HUGEINT) * 1000000) // n_$suf
           |       END AS BIGINT) END AS mean_${suf}_micro""".stripMargin
      s"""WITH b AS (SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS t,
         |    (epoch_us(o_orderdate) >= 883612800000000) AS p,
         |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
         |  FROM orders
         |  WHERE o_orderpriority IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_totalprice IS NOT NULL),
         |m AS (SELECT
         |  ${cellSql("t AND NOT p", "treat_pre")},
         |  ${cellSql("t AND p", "treat_post")},
         |  ${cellSql("NOT t AND NOT p", "ctrl_pre")},
         |  ${cellSql("NOT t AND p", "ctrl_post")}
         |  FROM b),
         |mm AS (SELECT n_treat_pre, n_treat_post, n_ctrl_pre, n_ctrl_post,
         |  ${meanSql("treat_pre")},
         |  ${meanSql("treat_post")},
         |  ${meanSql("ctrl_pre")},
         |  ${meanSql("ctrl_post")}
         |  FROM m)
         |SELECT *,
         |  CAST((mean_treat_post_micro - mean_treat_pre_micro)
         |     - (mean_ctrl_post_micro - mean_ctrl_pre_micro) AS BIGINT) AS did_micro
         |FROM mm""".stripMargin
    },

    // Mann-Whitney: doubled midranks over the value lattice, exact
    // HUGEINT rank/tie sums, then the identical double z tree
    "x_stats_mannwhitney" -> {
      def dd(x: String) = s"CAST($x AS DOUBLE)"
      val nn = s"(${dd("n_a")} + ${dd("n_b")})"
      val num = s"${dd("r2a")} - ${dd("n_a")} * (${dd("n_a")} + 1.0) - ${dd("n_a")} * ${dd("n_b")}"
      val varU = s"(${dd("n_a")} * ${dd("n_b")} / 12.0) * (($nn + 1.0) - ${dd("tie")} / ($nn * ($nn - 1.0)))"
      val z = s"(($num) / (2.0 * sqrt($varU)))"
      s"""WITH b AS (SELECT CAST(lang AS VARCHAR) AS s, CAST(n_chars AS BIGINT) AS v
         |  FROM documents WHERE n_chars IS NOT NULL AND lang IN ('en', 'zh')),
         |g AS (SELECT v,
         |        CAST(coalesce(sum(CASE WHEN s = 'en' THEN 1 END), 0) AS BIGINT) AS ca,
         |        CAST(count(*) AS BIGINT) AS t FROM b GROUP BY 1),
         |r AS (SELECT v, ca, t,
         |        2 * CAST(sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |          - t + 1 AS r2
         |      FROM g),
         |m AS (SELECT CAST(coalesce(sum(ca), 0) AS BIGINT) AS n_a,
         |        CAST(coalesce(sum(t - ca), 0) AS BIGINT) AS n_b,
         |        coalesce(sum(CAST(ca AS HUGEINT) * r2), 0) AS r2a,
         |        coalesce(sum(CAST(t AS HUGEINT) * t * t - t), 0) AS tie
         |      FROM r)
         |SELECT n_a, n_b,
         |  CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2_a,
         |  CASE WHEN n_a >= 1 AND n_b >= 1 AND $varU > 0.0
         |       THEN ${graft.ops.Rounding.halfUpSql(z, 6)} END AS z_mw
         |FROM m""".stripMargin
    },

    // ANOVA: exact HUGEINT group moments, the cross-group double sum
    // folded over the ORDER BY g list (list_reduce with a prepended
    // 0.0 — bit-identical to the engine's sort_array + aggregate fold)
    "x_stats_anova" -> anovaSqlFrom(custSegBalSql),

    // Brown-Forsythe: lower group medians read exactly off the
    // per-group value lattice (group-partitioned windows), then the
    // anova chain on z = |v - median_g| — all-integer inputs
    "x_stats_brownforsythe" -> anovaSqlFrom(
      s"""WITH b0 AS ($custSegBalSql),
         |gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b0 GROUP BY 1, 2),
         |lat AS (SELECT g, v,
         |          sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
         |          sum(c) OVER (PARTITION BY g) AS ng
         |        FROM gv),
         |med AS (SELECT g, min(v) AS med FROM lat WHERE 2 * cum >= ng GROUP BY g)
         |SELECT b0.g, abs(b0.v - med.med) AS v FROM b0 JOIN med USING (g)""".stripMargin),

    // Jonckheere-Terpstra: the dense (group x lattice) grid with the
    // same two partitioned windows (per-group below-v cumulative,
    // per-value prefix over group order), exact HUGEINT 2J and null
    // moments, one double z tree
    "x_stats_jonckheere" -> {
      def dd(x: String) = s"CAST($x AS DOUBLE)"
      val sigma2 = s"((${dd("n")} * (${dd("n")} - 1.0) * (2.0 * ${dd("n")} + 5.0) - ${dd("ag")} - ${dd("at2")}) / 72.0" +
        s" + ${dd("bg")} * ${dd("bt2")} / (36.0 * ${dd("n")} * (${dd("n")} - 1.0) * (${dd("n")} - 2.0))" +
        s" + ${dd("cg")} * ${dd("ct2")} / (8.0 * ${dd("n")} * (${dd("n")} - 1.0)))"
      val z = s"((${dd("j2")} - ${dd("mu2")}) / (2.0 * sqrt($sigma2)))"
      s"""WITH b AS (SELECT CAST(o_orderpriority AS VARCHAR) AS g,
         |    CAST(floor(CAST(o_totalprice AS DOUBLE) / 1000) AS BIGINT) AS v
         |  FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
         |gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
         |vals AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM gv GROUP BY v),
         |grps AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM gv GROUP BY g),
         |grid AS (SELECT vals.v, grps.g, coalesce(gv.c, 0) AS c0
         |         FROM vals CROSS JOIN grps
         |         LEFT JOIN gv ON gv.g = grps.g AND gv.v = vals.v),
         |w1 AS (SELECT v, g, c0,
         |    coalesce(sum(c0) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
         |  FROM grid),
         |w2 AS (SELECT v, g, c0,
         |    coalesce(sum(below) OVER (PARTITION BY v ORDER BY g
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS belowPrev,
         |    coalesce(sum(c0) OVER (PARTITION BY v ORDER BY g
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tiePrev
         |  FROM w1),
         |j AS (SELECT coalesce(sum(CAST(c0 AS HUGEINT) * (2 * belowPrev + tiePrev)), 0) AS j2 FROM w2),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
         |        coalesce(sum(CAST(n AS HUGEINT) * n), 0) AS sn2,
         |        coalesce(sum(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)), 0) AS ag,
         |        coalesce(sum(CAST(n AS HUGEINT) * (n - 1) * (n - 2)), 0) AS bg,
         |        coalesce(sum(CAST(n AS HUGEINT) * (n - 1)), 0) AS cg
         |      FROM grps),
         |tm AS (SELECT coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)), 0) AS at2,
         |         coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)), 0) AS bt2,
         |         coalesce(sum(CAST(t AS HUGEINT) * (t - 1)), 0) AS ct2
         |       FROM vals),
         |f AS (SELECT j2, k, n, (CAST(n AS HUGEINT) * n - sn2) // 2 AS mu2,
         |        ag, bg, cg, at2, bt2, ct2 FROM j, m, tm)
         |SELECT n, k AS n_groups, CAST(j2 AS BIGINT) AS j2,
         |  CASE WHEN k >= 2 AND n >= 3 AND $sigma2 > 0.0
         |       THEN ${graft.ops.Rounding.halfUpSql(z, 6)} END AS z_jt
         |FROM f""".stripMargin
    },

    // pairwise Welch contrasts: the k-row moment table self-joined
    // (g_a < g_b), exact sign-factored micro mean difference, the
    // welchTTest double tree per pair
    "x_stats_contrasts" -> {
      def dd(x: String) = s"CAST($x AS DOUBLE)"
      def microMean(s: String, n: String) =
        s"(CASE WHEN $s < 0 THEN -((-$s * 1000000) // $n) ELSE ($s * 1000000) // $n END)"
      val varA = s"((${dd("na")} * ${dd("qa")} - ${dd("sa")} * ${dd("sa")}) / (${dd("na")} * (${dd("na")} - 1.0)))"
      val varB = s"((${dd("nb")} * ${dd("qb")} - ${dd("sb")} * ${dd("sb")}) / (${dd("nb")} * (${dd("nb")} - 1.0)))"
      val seA = s"($varA / ${dd("na")})"
      val seB = s"($varB / ${dd("nb")})"
      val se2 = s"($seA + $seB)"
      val t = s"((${dd("sa")} / ${dd("na")} - ${dd("sb")} / ${dd("nb")}) / sqrt($se2))"
      val dfW = s"(($se2 * $se2) / ($seA * $seA / (${dd("na")} - 1.0) + $seB * $seB / (${dd("nb")} - 1.0)))"
      s"""WITH b AS ($custSegBalSql),
         |grp AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |          sum(CAST(v AS HUGEINT)) AS s,
         |          sum(CAST(v AS HUGEINT) * v) AS q
         |        FROM b GROUP BY g),
         |p AS (SELECT a.g AS ga, b2.g AS gb, a.n AS na, b2.n AS nb,
         |        a.s AS sa, b2.s AS sb, a.q AS qa, b2.q AS qb
         |      FROM grp a JOIN grp b2 ON a.g < b2.g)
         |SELECT ga AS group_a, gb AS group_b, na AS n_a, nb AS n_b,
         |  CAST(${microMean("sa", "na")} - ${microMean("sb", "nb")} AS BIGINT) AS mean_diff_micro,
         |  CASE WHEN na >= 2 AND nb >= 2 AND $se2 > 0
         |       THEN ${graft.ops.Rounding.halfUpSql(t, 6)} END AS t_welch,
         |  CASE WHEN na >= 2 AND nb >= 2 AND $se2 > 0
         |       THEN ${graft.ops.Rounding.halfUpSql(dfW, 6)} END AS df_welch
         |FROM p""".stripMargin
    },

    // Kruskal-Wallis: the Mann-Whitney tie lattice generalized to k
    // groups — doubled midranks, HUGEINT rank sums per group, the same
    // ORDER BY g list fold, tie-corrected H in one double tree
    "x_stats_kruskal" -> {
      def dd(x: String) = s"CAST($x AS DOUBLE)"
      val fold = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        "list_transform(arr, x -> CAST(x.d AS DOUBLE) * CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE))), " +
        "(a, b) -> a + b)"
      val h = s"(3.0 / (${dd("n")} * (n + 1)) * fold - 3.0 * (n + 1))"
      val corr = s"(1.0 - ${dd("tie")} / (${dd("n")} * n * n - n))"
      s"""WITH b AS (SELECT CAST(c_mktsegment AS VARCHAR) AS g,
         |    CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT) AS v
         |  FROM customer WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL),
         |gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
         |lat AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM gv GROUP BY v),
         |r AS (SELECT v, t,
         |        2 * CAST(sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |          - t + 1 AS r2
         |      FROM lat),
         |grp AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
         |          sum(CAST(c AS HUGEINT) * r2) AS d_g
         |        FROM gv JOIN r USING (v) GROUP BY g),
         |tot AS (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n,
         |          coalesce(sum(CAST(t AS HUGEINT) * t * t - t), 0) AS tie
         |        FROM r),
         |one AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |          list(struct_pack(d := d_g, n := n_g) ORDER BY g) AS arr
         |        FROM grp),
         |m AS (SELECT n, tie, k, $fold AS fold FROM one, tot)
         |SELECT n, k AS n_groups,
         |  CASE WHEN k >= 2 THEN k - 1 END AS dof,
         |  CASE WHEN k >= 2 AND n >= 2 AND $corr > 0.0
         |       THEN ${graft.ops.Rounding.halfUpSql(s"($h / $corr)", 6)} END AS h_kw,
         |  CASE WHEN k >= 2 AND n >= 2 AND $corr > 0.0
         |       THEN ${graft.ops.Rounding.halfUpSql(s"(($h / $corr) / (n - 1))", 6)} END AS epsilon_sq
         |FROM m""".stripMargin
    },

    // Spearman: doubled midranks from tie-group lattices (whole longs),
    // exact HUGEINT moments cast to double, one Pearson expression
    "x_stats_spearman" ->
      s"""WITH b AS (SELECT CAST(n_chars AS BIGINT) AS x, CAST(len($toksSql) AS BIGINT) AS y
         |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         |gx AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
         |rx AS (SELECT x, 2 * CAST(sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) - c + 1 AS rx FROM gx),
         |gy AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
         |ry AS (SELECT y, 2 * CAST(sum(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS BIGINT) - c + 1 AS ry FROM gy),
         |j AS (SELECT rx.rx, ry.ry FROM b JOIN rx USING (x) JOIN ry USING (y)),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(rx) AS DOUBLE) AS sx, CAST(sum(ry) AS DOUBLE) AS sy,
         |        CAST(sum(rx * ry) AS DOUBLE) AS sxy,
         |        CAST(sum(rx * rx) AS DOUBLE) AS sxx,
         |        CAST(sum(ry * ry) AS DOUBLE) AS syy
         |      FROM j)
         |SELECT n,
         |  CASE WHEN n >= 2 AND (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
         |            AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0
         |       THEN ${graft.ops.Rounding.halfUpSql(
                "(CAST(n AS DOUBLE) * sxy - sx * sy) / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))", 6)}
         |  END AS rho
         |FROM m""".stripMargin,

    // per-slice KS vs rest + the 8-term asymptotic series (left-to-
    // right fold, micro-rounded), then exact-integer BH at q = 0.05
    "x_stats_ks_fdr" ->
      """WITH b AS (SELECT lang AS slice, CAST(n_chars AS BIGINT) AS v
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |c AS (SELECT slice, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |lat AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM c GROUP BY 1),
        |l2 AS (SELECT v, CAST(sum(cv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumall,
        |              CAST(sum(cv) OVER () AS BIGINT) AS n FROM lat),
        |sl AS (SELECT slice, CAST(sum(c) AS BIGINT) AS ns FROM c GROUP BY 1),
        |grid AS (SELECT sl.slice, sl.ns, l2.v, l2.cumall, l2.n, CAST(coalesce(c.c, 0) AS BIGINT) AS c
        |         FROM sl CROSS JOIN l2 LEFT JOIN c ON c.slice = sl.slice AND c.v = l2.v),
        |cm AS (SELECT *, CAST(sum(c) OVER (PARTITION BY slice ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cums FROM grid),
        |dd AS (SELECT slice, ns, n - ns AS nrest,
        |         CAST(max(abs(cums * (n - ns) - (cumall - cums) * ns)) AS BIGINT) AS d
        |       FROM cm GROUP BY 1, 2, 3),
        |ag AS (SELECT slice, ns AS n_slice, nrest AS n_rest,
        |         CAST(d AS DOUBLE) / (CAST(ns AS DOUBLE) * CAST(nrest AS DOUBLE)) AS dstat
        |       FROM dd WHERE nrest > 0),
        |lm AS (SELECT slice, n_slice, n_rest, dstat,
        |         (sqrt(CAST(n_slice AS DOUBLE) * CAST(n_rest AS DOUBLE) / (CAST(n_slice AS DOUBLE) + CAST(n_rest AS DOUBLE))) + 0.12
        |          + 0.11 / sqrt(CAST(n_slice AS DOUBLE) * CAST(n_rest AS DOUBLE) / (CAST(n_slice AS DOUBLE) + CAST(n_rest AS DOUBLE)))) * dstat AS lam
        |       FROM ag),
        |pv AS (SELECT slice,
        |         greatest(0, least(1000000,
        |           CAST(floor((exp(-2.0 * lam * lam) * 2.0 + exp(-8.0 * lam * lam) * 2.0 * -1.0
        |             + exp(-18.0 * lam * lam) * 2.0 + exp(-32.0 * lam * lam) * 2.0 * -1.0
        |             + exp(-50.0 * lam * lam) * 2.0 + exp(-72.0 * lam * lam) * 2.0 * -1.0
        |             + exp(-98.0 * lam * lam) * 2.0 + exp(-128.0 * lam * lam) * 2.0 * -1.0) * 1000000.0 + 0.5) AS BIGINT))) AS p_micro
        |       FROM lm),
        |r AS (SELECT slice AS key, p_micro,
        |        CAST(row_number() OVER (ORDER BY p_micro, slice) AS BIGINT) AS rank,
        |        CAST(count(*) OVER () AS BIGINT) AS m
        |      FROM pv),
        |ct AS (SELECT max(CASE WHEN p_micro * m <= rank * 50000 THEN rank END) AS cut FROM r)
        |SELECT r.key, r.p_micro, r.rank,
        |       CAST((r.rank * 50000) // r.m AS BIGINT) AS bh_bound_micro,
        |       (ct.cut IS NOT NULL AND r.rank <= ct.cut) AS rejected
        |FROM r, ct""".stripMargin,

    // chi-square per-cell adjusted residuals over the same dense
    // lattice; e and the Haberman residual are the derived doubles
    "x_stats_chi2_cells" ->
      s"""WITH cells AS (SELECT lang AS va, source AS vb, CAST(count(*) AS BIGINT) AS o
         |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
         |ra AS (SELECT va, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
         |cb AS (SELECT vb, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
         |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         |lat AS (SELECT ra.va, cb.vb, ra.ra, cb.cb, CAST(coalesce(c.o, 0) AS BIGINT) AS o, tot.n
         |        FROM ra CROSS JOIN cb CROSS JOIN tot
         |        LEFT JOIN cells c ON ra.va = c.va AND cb.vb = c.vb),
         |t AS (SELECT *,
         |        CAST(ra * cb AS DOUBLE) / CAST(n AS DOUBLE) AS e,
         |        sqrt((CAST(ra * cb AS DOUBLE) / CAST(n AS DOUBLE))
         |          * (1.0 - CAST(ra AS DOUBLE) / CAST(n AS DOUBLE))
         |          * (1.0 - CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))) AS den,
         |        CAST(floor((CAST(o * n - ra * cb AS DOUBLE) * CAST(o * n - ra * cb AS DOUBLE)
         |          / CAST(ra * cb AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS tm
         |      FROM lat)
         |SELECT va AS val_a, vb AS val_b, o,
         |       ${graft.ops.Rounding.halfUpSql("e", 6)} AS e,
         |       CASE WHEN den > 0 THEN
         |         ${graft.ops.Rounding.halfUpSql("(CAST(o AS DOUBLE) - e) / den", 6)}
         |       END AS residual,
         |       tm AS term_micro
         |FROM t""".stripMargin,

    // McNemar: four conditional sums, the discordant-pair statistic
    "x_stats_mcnemar" ->
      s"""WITH c AS (SELECT n_chars >= 300 AS a, lang = 'en' AS b FROM documents
         |           WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |        CAST(coalesce(sum(CASE WHEN NOT a AND NOT b THEN 1 END), 0) AS BIGINT) AS n00,
         |        CAST(coalesce(sum(CASE WHEN NOT a AND b THEN 1 END), 0) AS BIGINT) AS n01,
         |        CAST(coalesce(sum(CASE WHEN a AND NOT b THEN 1 END), 0) AS BIGINT) AS n10,
         |        CAST(coalesce(sum(CASE WHEN a AND b THEN 1 END), 0) AS BIGINT) AS n11
         |      FROM c)
         |SELECT n, n00, n01, n10, n11,
         |       CAST(CASE WHEN n > 0 THEN ((n00 + n11) * 1000000) // n END AS BIGINT) AS agree_micro,
         |       CASE WHEN n01 + n10 > 0 THEN
         |         ${graft.ops.Rounding.halfUpSql("CAST((n01 - n10) * (n01 - n10) AS DOUBLE) / CAST(n01 + n10 AS DOUBLE)", 6)}
         |       END AS mcnemar
         |FROM g""".stripMargin,

    // isotonic calibration: the PAV minimax identity over the binned
    // lattice — pool averages are single double divisions of exact
    // prefix-sum longs, min/max over identical values
    "x_stats_isotonic" ->
      s"""WITH c AS (SELECT lang = 'en' AS y,
         |    (least(greatest(CAST(n_chars AS BIGINT), 0), 1023) - 0) // 64 AS b
         |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
         |bins AS (SELECT b, CAST(count(*) AS BIGINT) AS n,
         |    CAST(coalesce(sum(CASE WHEN y THEN 1 END), 0) AS BIGINT) AS n_pos
         |  FROM c GROUP BY 1),
         |lat AS (SELECT *,
         |    CAST(sum(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
         |    CAST(sum(n_pos) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp
         |  FROM bins),
         |pools AS (SELECT l.b AS j, r.b AS k,
         |    CAST(r.cp - (l.cp - l.n_pos) AS DOUBLE) / CAST(r.cn - (l.cn - l.n) AS DOUBLE) AS avg
         |  FROM lat l CROSS JOIN lat r WHERE l.b <= r.b),
         |fits AS (SELECT i.b AS i, p.j, min(p.avg) AS m
         |  FROM lat i CROSS JOIN pools p WHERE p.j <= i.b AND p.k >= i.b
         |  GROUP BY 1, 2),
         |f2 AS (SELECT i, max(m) AS fit FROM fits GROUP BY 1)
         |SELECT lat.b AS bin, CAST(0 + lat.b * 64 AS BIGINT) AS bin_lo, lat.n, lat.n_pos,
         |       CAST((lat.n_pos * 1000000) // lat.n AS BIGINT) AS rate_micro,
         |       ${graft.ops.Rounding.halfUpSql("fit", 6)} AS calibrated
         |FROM lat JOIN f2 ON lat.b = f2.i""".stripMargin,

    // LOO target encoding: exact long category stats + the one
    // halfUp-6 double per row, identical IEEE tree (null-safe
    // category join, non-LOO form for null-target rows)
    "x_stats_tenc" ->
      s"""WITH c AS (SELECT c_custkey, c_mktsegment AS cat,
         |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS y FROM customer),
         |st AS (SELECT cat, CAST(count(*) AS BIGINT) AS cat_n,
         |         CAST(sum(y) AS BIGINT) AS cat_sum
         |       FROM c WHERE y IS NOT NULL GROUP BY 1),
         |tot AS (SELECT CAST(coalesce(sum(cat_n), 0) AS BIGINT) AS tn,
         |          CAST(coalesce(sum(cat_sum), 0) AS BIGINT) AS ts FROM st)
         |SELECT c.c_custkey, st.cat_n, st.cat_sum,
         |  CASE WHEN c.y IS NOT NULL THEN
         |    CASE WHEN st.cat_n - 1 + 20 > 0 THEN
         |      ${graft.ops.Rounding.halfUpSql("(CAST(st.cat_sum - c.y AS DOUBLE) + 20.0 * (CAST(tot.ts AS DOUBLE) / CAST(tot.tn AS DOUBLE))) / CAST(st.cat_n - 1 + 20 AS DOUBLE)", 6)}
         |    END
         |  ELSE
         |    CASE WHEN coalesce(st.cat_n, 0) + 20 > 0 AND tot.tn > 0 THEN
         |      ${graft.ops.Rounding.halfUpSql("(CAST(coalesce(st.cat_sum, 0) AS DOUBLE) + 20.0 * (CAST(tot.ts AS DOUBLE) / CAST(tot.tn AS DOUBLE))) / CAST(coalesce(st.cat_n, 0) + 20 AS DOUBLE)", 6)}
         |    END
         |  END AS enc
         |FROM c LEFT JOIN st ON c.cat IS NOT DISTINCT FROM st.cat CROSS JOIN tot""".stripMargin,
  )
}
