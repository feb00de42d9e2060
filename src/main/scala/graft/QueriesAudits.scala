package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Rounding
import EntryShared._

/** [[SparkEntry]] slice: preference aggregation (Bradley-Terry, agreement), privacy releases, QC contracts.
  * Query lambdas and their DuckDB oracle mirrors live side by side;
  * the maps compose into the driver contract in [[SparkEntry]].
  * Determinism rules documented there apply to every entry.
  */
private[graft] object QueriesAudits {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- preference data / Bradley-Terry (round-10) -------------------
    // per-item outcome rollup over the derived pairwise-judgment view
    "x_pref_winrate" -> ((s, d) =>
      graft.scale.Preferences.itemStats(preferenceGames(s, d), "winner", "loser")),

    // fixed-iteration Bradley-Terry strengths in integer micro units
    // (4 MM iterations, max-divisor rescale each round — the oracle
    // unrolls the identical arithmetic as a materialized CTE chain)
    "x_pref_bt" -> ((s, d) =>
      graft.scale.Preferences.btStrengths(preferenceGames(s, d), "winner", "loser",
        iterations = 4)),

    // the convergence curve behind the iteration-count default: max
    // per-item strength move per MM iteration — 6 iterations to show
    // the tail past the production 4
    "x_pref_bt_delta" -> ((s, d) =>
      graft.scale.Preferences.btConvergence(preferenceGames(s, d), "winner", "loser",
        iterations = 6)),

    // Wilson 95% band on the win rates — the leaderboard's
    // reorder-with-confidence guard
    "x_pref_wilson" -> ((s, d) =>
      graft.scale.Preferences.winRateWilson(preferenceGames(s, d), "winner", "loser")),

    // two-rater agreement over a derived rating view: rater a = lang,
    // rater b = lang with every 7th doc mislabeled — kappa < 1 by
    // construction, chance term exact
    "x_pref_kappa" -> ((s, d) =>
      graft.scale.Preferences.cohenKappa(
        raterFixture(s, d), "item", "rater", "label", "a", "b")),

    // Fleiss' kappa over the THREE-rater panel (rater c skips every
    // 13th doc — the unequal-raters generalization is exercised, not
    // just the constant-n textbook case)
    "x_pref_fleiss" -> ((s, d) =>
      graft.scale.Preferences.fleissKappa(
        raterPanelFixture(s, d), "item", "rater", "label")),

    // calibration of the shipped 4-iteration BT fit: per predicted-
    // probability decile, games-weighted mean prediction vs realized
    // win rate over the canonical pair matrix
    "x_pref_bt_calib" -> ((s, d) =>
      graft.scale.Preferences.btCalibration(
        preferenceGames(s, d), "winner", "loser", iterations = 4, bins = 10)),

    // pair-coverage precondition for trusting the BT fit: observed vs
    // possible pairs and thin-history items
    "x_pref_coverage" -> ((s, d) =>
      graft.scale.Preferences.coverageAudit(
        preferenceGames(s, d), "winner", "loser", minGames = 3L)),

    // the one-number calibration gate over the same bins: games-
    // weighted ECE + worst-bin MCE
    "x_pref_ece" -> ((s, d) =>
      graft.scale.Preferences.btCalibrationError(
        preferenceGames(s, d), "winner", "loser", iterations = 4, bins = 10)),

    // pairwise rater-agreement screening matrix over the three-rater
    // panel: a-b disagree on the 7th docs, a-c on the 5ths, b-c on
    // both families; c co-rates fewer items (skips every 13th)
    "x_pref_rater_matrix" -> ((s, d) =>
      graft.scale.Preferences.raterAgreementMatrix(
        raterPanelFixture(s, d), "item", "rater", "label")),

    // row-count reconciliation: a planted ~1% sink loss (o_orderkey %
    // 97 dropped) passes the 2% budget rule and fails the exact rule
    "x_qc_reconcile" -> ((s, d) => {
      val src = T(s, d, "orders")
      val dst = src.filter(col("o_orderkey") % 97 =!= 0)
      graft.ops.Contracts
        .reconciliationAudit(src, dst, "orders.sampled_2pct_budget",
          toleranceMicro = 20000L)
        .unionByName(graft.ops.Contracts
          .reconciliationAudit(src, dst, "orders.exact", toleranceMicro = 0L))
    }),

    // verbosity-bias audit over BOTH preference waves merged (wave 1
    // prefers longer, wave 2 shorter — the mix is non-degenerate);
    // per-item length = max n_chars over the item's docs
    "x_pref_lenbias" -> ((s, d) => {
      val games = preferenceGames(s, d).unionByName(preferenceGames2(s, d))
      val lens = T(s, d, "documents")
        .select(regexp_extract(col("source"), "([0-9]+)$", 1).cast("long").as("item"),
          col("n_chars"))
        .groupBy("item").agg(max("n_chars").as("len"))
      graft.scale.Preferences.lengthBiasAudit(
        games, lens, "winner", "loser", "item", "len")
    }),

    // Krippendorff's alpha over the same ragged panel — the
    // missing-data-robust agreement statistic (rater c's skipped
    // items exercise exactly the pairable-values machinery that
    // distinguishes alpha from fleiss)
    "x_pref_alpha" -> ((s, d) =>
      graft.scale.Preferences.krippendorffAlpha(
        raterPanelFixture(s, d), "item", "rater", "label")),

    // majority-vote consensus labels with the deterministic min-label
    // tie rule over the same panel
    "x_pref_consensus" -> ((s, d) =>
      graft.scale.Preferences.consensusLabels(
        raterPanelFixture(s, d), "item", "rater", "label")),

    // the which-rater-is-noise audit: per-rater agreement against the
    // consensus election — the planted noisy raters (b, c) rank below a
    "x_pref_rater_agree" -> ((s, d) =>
      graft.scale.Preferences.raterConsensusAgreement(
        raterPanelFixture(s, d), "item", "rater", "label")),

    // WARM-START refresh: wave-1 fit persists (pairs + strengths in
    // spirit — here held as frames), wave 2 lands with the OPPOSITE
    // rubric, pairs merge (counts sum), and TWO MM iterations continue
    // from the wave-1 fixed point — the oracle unrolls both chains
    "x_pref_bt_refresh" -> ((s, d) => {
      val P = graft.scale.Preferences
      val g1 = preferenceGames(s, d)
      val merged = P.mergePairStats(
        P.pairStats(g1, "winner", "loser"),
        P.pairStats(preferenceGames2(s, d), "winner", "loser"))
      P.btStrengthsFromPairs(merged, iterations = 2,
        init = Some(P.btStrengths(g1, "winner", "loser", iterations = 4)))
    }),

    // rater-drift over waves: per-wave Cohen's kappa with predecessor
    // deltas — the fixture's mislabel rate FALLS with the wave index,
    // so deltas are positive by construction
    "x_pref_kappa_waves" -> ((s, d) =>
      graft.scale.Preferences.kappaDrift(
        raterWaveFixture(s, d), "item", "rater", "label", "a", "b", "wave")),

    // the SAME refresh driven from the PERSISTED artifact (the
    // x_text_hashclf_saved precedent): wave-1 pairs+strengths save
    // once per (dir) per JVM via Models, wave 2 merges against the
    // LOADED matrix and warm-starts from the LOADED strengths —
    // bit-identical to the live-frame refresh (longs roundtrip
    // losslessly), so the oracle is the same two-chain unroll
    "x_pref_bt_saved" -> ((s, d) => {
      val P = graft.scale.Preferences
      val dir = graft.scale.Models.fitOnceArtifactDir("btmodel", d) { out =>
        val g1 = preferenceGames(s, d)
        graft.scale.Models.saveBtModel(
          P.pairStats(g1, "winner", "loser"),
          P.btStrengths(g1, "winner", "loser", iterations = 4), out)
      }
      val merged = P.mergePairStats(
        graft.scale.Models.loadBtPairs(s, dir),
        P.pairStats(preferenceGames2(s, d), "winner", "loser"))
      P.btStrengthsFromPairs(merged, iterations = 2,
        init = Some(graft.scale.Models.loadBtStrengths(s, dir)))
    }),

    // seeded Laplace release counts per source (ε = 0.5): the DP
    // mechanism's full data path with the secure RNG swapped for the
    // portable hash so the gate can replay it (documented trade)
    // non-default releaseSalt on purpose: the oracle replays a SECOND
    // release's fresh noise, proving salted draws are engine-exact too
    "x_priv_dpcounts" -> ((s, d) =>
      graft.ops.Privacy.dpNoisyCounts(T(s, d, "documents"), "source",
        epsilonMicro = 500000L, releaseSalt = "release-2")),

    // DP mean release: clamped micro sums + the split-budget pair of
    // domain-separated draws; parameters come from the ONE EntryShared
    // definition both engines interpolate
    "x_priv_dpmean" -> ((s, d) =>
      graft.ops.Privacy.dpNoisyMean(T(s, d, "documents"), "source", "n_chars",
        DpMeanLoMicro, DpMeanHiMicro, DpMeanEpsMicro,
        releaseSalt = "release-3")),

    // DP quantile release: exponential mechanism over the PUBLIC
    // 128-cell lattice — exact integer ranks/utilities, one seeded
    // Gumbel draw per (group, candidate), noisy-argmax with the
    // min-candidate tie rule; ε = 0.5 so the noise genuinely moves
    // the release off the true median on some groups (a utility-
    // dominated gate would be vacuous)
    "x_priv_dpquantile" -> ((s, d) =>
      graft.ops.Privacy.dpNoisyQuantile(T(s, d, "documents"), "source",
        "n_chars", DpQMicro, DpQLo, DpQHi, DpQStep, DpQEpsMicro,
        releaseSalt = "release-4")),

    // the sequential-composition ledger over an actual release log:
    // two count releases (one salt REUSED — flagged, spent once) plus
    // the mean release; the __total__ row is the composed spend
    "x_priv_ledger" -> ((s, d) => {
      val docs = T(s, d, "documents")
      def logged(df: DataFrame, salt: String) =
        df.agg(max(col("epsilon_micro")).as("eps"))
          .select(lit(salt).as("release_salt"), col("eps"))
      val log = logged(graft.ops.Privacy.dpNoisyCounts(
          docs, "source", 500000L, "release-1"), "release-1")
        .unionByName(logged(graft.ops.Privacy.dpNoisyCounts(
          docs, "source", 500000L, "release-2"), "release-2"))
        .unionByName(logged(graft.ops.Privacy.dpNoisyCounts(
          docs, "source", 500000L, "release-2"), "release-2"))
        .unionByName(logged(graft.ops.Privacy.dpNoisyMean(
          docs, "source", "n_chars", DpMeanLoMicro, DpMeanHiMicro,
          DpMeanEpsMicro, "release-3"), "release-3"))
      graft.ops.Privacy.epsilonLedger(log, "release_salt", "eps")
    }),

    // referential-integrity contract audit over PLANTED violations
    // (the FK-consistent TPC-H tables would make the gate vacuous):
    // customers thinned 10% -> orphan orders; every 13th order's
    // custkey nulled -> null-key counter; orders thinned 1/7 ->
    // orphan lineitems
    "x_qc_refint" -> ((s, d) => {
      val cust = T(s, d, "customer").filter(col("c_custkey") % 10 =!= 0)
      val ordersNulled = T(s, d, "orders").withColumn("o_custkey",
        when(col("o_orderkey") % 13 === 0, lit(null)).otherwise(col("o_custkey")))
      val ordersThinned = T(s, d, "orders").filter(col("o_orderkey") % 7 =!= 0)
      graft.ops.Contracts.referentialAudit(
          ordersNulled, "o_custkey", cust, "c_custkey", "orders->customer")
        .union(graft.ops.Contracts.referentialAudit(
          T(s, d, "lineitem"), "l_orderkey", ordersThinned, "o_orderkey",
          "lineitem->orders"))
    }),

    // id-sequence completeness: TPC-H orderkeys are sparse BY DESIGN
    // (real gap signal, no plant needed); event ids are the dense
    // counter-example
    "x_qc_gaps" -> ((s, d) =>
      graft.ops.Contracts.sequenceGapAudit(T(s, d, "orders"), "o_orderkey", "orders.o_orderkey")
        .union(graft.ops.Contracts.sequenceGapAudit(T(s, d, "events"), "event_id", "events.event_id"))),

    // uniqueness on a view with PLANTED dupes (every 10th order row
    // appears twice) and planted null keys (every 97th orderkey)
    "x_qc_unique" -> ((s, d) =>
      graft.ops.Contracts.uniquenessAudit(
        qcDupedOrders(s, d), Seq("k1", "k2"), "orders.pk")),

    // accepted-values: 'error' is outside the allowed domain (a real
    // violation in the data, no plant needed); nulls planted separately
    "x_qc_enum" -> ((s, d) =>
      graft.ops.Contracts.enumDomainAudit(
        T(s, d, "events").withColumn("event_type",
          when(col("event_id") % 101 === 0, lit(null))
            .otherwise(col("event_type"))),
        "event_type", Seq("click", "view", "signup", "purchase"),
        "events.event_type")),

    // accepted-range on quantity: [5, 45] against the natural 1..50
    // domain — violations on both sides
    "x_qc_range" -> ((s, d) =>
      graft.ops.Contracts.rangeAudit(
        T(s, d, "lineitem"), "l_quantity", 5L, 45L, "lineitem.l_quantity")),

    // freshness vs the fixed as-of (2024-02-01T00:00:00Z): one rule
    // inside its lag budget, one stale — both rows from one aggregate
    // shape, the as-of passed in (never read from a clock)
    "x_qc_fresh" -> ((s, d) =>
      graft.ops.Contracts.freshnessAudit(
          T(s, d, "events"), "ts", QcAsOfEpochUs, 7L * 86400L, "events.ts.weekly")
        .union(graft.ops.Contracts.freshnessAudit(
          T(s, d, "events"), "ts", QcAsOfEpochUs, 3600L, "events.ts.hourly"))),

    // the composed delivery report: every contract normalized to
    // (rule, n_rows, n_violations) and unioned — the one-glance gate a
    // delivery pipeline actually pages on
    "x_qc_report" -> ((s, d) => qcDeliveryReport(s, d)),
  )

  val oracleSql: Map[String, String] = Map(

    // per-item win/loss rollup over the derived preference view
    "x_pref_winrate" ->
      (s"WITH $prefGamesSql," +
        """
          |wl AS (SELECT winner AS item, 1 AS win FROM games
          |       UNION ALL SELECT loser, 0 FROM games)
          |SELECT item, CAST(sum(win) AS BIGINT) AS wins,
          |       CAST(count(*) - sum(win) AS BIGINT) AS losses,
          |       CAST(count(*) AS BIGINT) AS games,
          |       CAST((sum(win) * 1000000) // count(*) AS BIGINT) AS winrate_micro
          |FROM wl GROUP BY 1""".stripMargin),

    // Bradley-Terry: the 4-iteration MM chain unrolled — every step
    // references the previous strengths twice (s_i and s_j) plus the
    // scalar MAX divisor, so each CTE is MATERIALIZED (the HITS
    // lesson: default inlining is exponential in the chain depth)
    "x_pref_bt" ->
      (btOracleCtes(4) +
        """
          |SELECT t.item, t.wins, t.games, s4.s AS strength_micro
          |FROM totals t JOIN s4 USING (item)""".stripMargin),

    // per-iteration max strength move over the same unrolled chain —
    // one delta row per adjacent (s_{i-1}, s_i) CTE pair
    "x_pref_bt_delta" ->
      (btOracleCtes(6) + "\n" +
        (1 to 6).map { i =>
          s"""SELECT CAST($i AS INT) AS iteration,
             |       CAST(max(abs(a.s - b.s)) AS BIGINT) AS max_delta_micro
             |FROM s$i a JOIN s${i - 1} b USING (item)""".stripMargin
        }.mkString("\nUNION ALL\n")),

    // Wilson band: identical double expression shape both engines
    // (1.96 literal round-trips to the same IEEE double; sqrt is
    // correctly rounded everywhere), halfUp 6 like every double output
    "x_pref_wilson" ->
      (s"WITH $prefGamesSql," +
        s"""
          |wl AS (SELECT winner AS item, 1 AS win FROM games
          |       UNION ALL SELECT loser, 0 FROM games),
          |t AS (SELECT item, CAST(sum(win) AS BIGINT) AS wins,
          |        CAST(count(*) - sum(win) AS BIGINT) AS losses,
          |        CAST(count(*) AS BIGINT) AS games,
          |        CAST((sum(win) * 1000000) // count(*) AS BIGINT) AS winrate_micro
          |      FROM wl GROUP BY 1),
          |w AS (SELECT *, CAST(wins AS DOUBLE) / CAST(games AS DOUBLE) AS p,
          |        CAST(games AS DOUBLE) AS nn FROM t)
          |SELECT item, wins, losses, games, winrate_micro,
          |  ${Rounding.halfUpSql("(p + (1.96*1.96)/(2.0*nn) - 1.96 * sqrt(p*(1.0-p)/nn + (1.96*1.96)/(4.0*(nn*nn)))) / (1.0 + (1.96*1.96)/nn)", 6)} AS wilson_lo,
          |  ${Rounding.halfUpSql("(p + (1.96*1.96)/(2.0*nn) + 1.96 * sqrt(p*(1.0-p)/nn + (1.96*1.96)/(4.0*(nn*nn)))) / (1.0 + (1.96*1.96)/nn)", 6)} AS wilson_hi
          |FROM w""".stripMargin),

    // Cohen's kappa over the derived two-rater view; kappa division
    // replays Spark's truncate-toward-zero div via the sign-factored
    // form (negative kappa is possible in general)
    "x_pref_kappa" ->
      """WITH r AS (SELECT doc_id AS item, 'a' AS rater, lang AS label FROM documents
        |           UNION ALL
        |           SELECT doc_id, 'b',
        |                  CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END
        |           FROM documents),
        |one AS (SELECT item, rater, min(label) AS label FROM r
        |        WHERE item IS NOT NULL AND label IS NOT NULL GROUP BY 1, 2),
        |bth AS (SELECT a.item, a.label AS la, b.label AS lb
        |        FROM (SELECT item, label FROM one WHERE rater = 'a') a
        |        JOIN (SELECT item, label FROM one WHERE rater = 'b') b USING (item)),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
        |          CAST(coalesce(sum(CASE WHEN la = lb THEN 1 END), 0) AS BIGINT) AS n_agree
        |        FROM bth),
        |ca AS (SELECT la AS label, CAST(count(*) AS BIGINT) AS ca FROM bth GROUP BY 1),
        |cb AS (SELECT lb AS label, CAST(count(*) AS BIGINT) AS cb FROM bth GROUP BY 1),
        |ch AS (SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS crs
        |       FROM ca JOIN cb USING (label)),
        |po AS (SELECT n_items, n_agree,
        |         CASE WHEN n_items > 0
        |           THEN CAST((n_agree * 1000000) // n_items AS BIGINT) END AS po_micro,
        |         CASE WHEN n_items > 0
        |           THEN CAST((crs * 1000000) // (n_items * n_items) AS BIGINT) END AS pe_micro
        |       FROM agg, ch)
        |SELECT n_items, n_agree, po_micro, pe_micro,
        |       CASE WHEN pe_micro >= 1000000 THEN NULL
        |            WHEN po_micro >= pe_micro
        |              THEN CAST(((po_micro - pe_micro) * 1000000) // (1000000 - pe_micro) AS BIGINT)
        |            ELSE CAST(-(((pe_micro - po_micro) * 1000000) // (1000000 - pe_micro)) AS BIGINT)
        |       END AS kappa_micro
        |FROM po""".stripMargin,

    // Fleiss' kappa: the integer-micro spec replayed CTE by CTE —
    // per-item floors, integer mean, pooled marginals over KEPT items,
    // sign-factored kappa division (Spark div truncates toward zero)
    "x_pref_fleiss" ->
      s"""WITH $raterPanelSql,
         |one AS (SELECT item, rater, min(label) AS label FROM panel
         |        WHERE item IS NOT NULL AND label IS NOT NULL GROUP BY 1, 2),
         |nik AS (SELECT item, label, CAST(count(*) AS BIGINT) AS nik
         |        FROM one GROUP BY 1, 2),
         |byitem AS (SELECT item, CAST(sum(nik) AS BIGINT) AS ni,
         |                  CAST(sum(nik * nik) AS BIGINT) AS sq
         |           FROM nik GROUP BY 1),
         |kept AS (SELECT *,
         |           CAST(((sq - ni) * 1000000) // (ni * (ni - 1)) AS BIGINT) AS pi
         |         FROM byitem WHERE ni >= 2),
         |top AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
         |               CAST(coalesce(sum(ni), 0) AS BIGINT) AS n_ratings,
         |               CAST(coalesce(sum(pi), 0) AS BIGINT) AS pisum
         |        FROM kept),
         |marg AS (SELECT CAST(coalesce(sum(ck * ck), 0) AS BIGINT) AS crs FROM (
         |           SELECT n.label, CAST(sum(n.nik) AS BIGINT) AS ck
         |           FROM nik n JOIN kept k USING (item) GROUP BY 1)),
         |po AS (SELECT n_items, n_ratings,
         |         CASE WHEN n_items > 0 THEN CAST(pisum // n_items AS BIGINT) END AS pbar_micro,
         |         CASE WHEN n_items > 0
         |           THEN CAST((crs * 1000000) // (n_ratings * n_ratings) AS BIGINT) END AS pe_micro
         |       FROM top, marg)
         |SELECT n_items, n_ratings, pbar_micro, pe_micro,
         |       CASE WHEN pe_micro >= 1000000 THEN NULL
         |            WHEN pbar_micro >= pe_micro
         |              THEN CAST(((pbar_micro - pe_micro) * 1000000) // (1000000 - pe_micro) AS BIGINT)
         |            ELSE CAST(-(((pe_micro - pbar_micro) * 1000000) // (1000000 - pe_micro)) AS BIGINT)
         |       END AS kappa_micro
         |FROM po""".stripMargin,

    // calibration: the unrolled 4-iteration chain's s4 joined twice
    // under the canonical pair matrix; all divisions non-negative so
    // // == div
    "x_pref_bt_calib" ->
      (btOracleCtes(4) + ",\n" +
        """pm AS (SELECT least(winner, loser) AS item_a, greatest(winner, loser) AS item_b,
          |         CAST(count(*) AS BIGINT) AS games,
          |         CAST(sum(CASE WHEN winner < loser THEN 1 ELSE 0 END) AS BIGINT) AS wins_a
          |       FROM games GROUP BY 1, 2),
          |jj AS (SELECT p.games, p.wins_a,
          |         CAST((sa.s * 1000000) // (sa.s + sb.s) AS BIGINT) AS pa
          |       FROM pm p JOIN s4 sa ON p.item_a = sa.item
          |                 JOIN s4 sb ON p.item_b = sb.item),
          |bb AS (SELECT least((pa * 10) // 1000000, 9) AS bin, games, wins_a, pa
          |       FROM jj)
          |SELECT CAST(bin AS BIGINT) AS bin,
          |       CAST(count(*) AS BIGINT) AS n_pairs,
          |       CAST(sum(games) AS BIGINT) AS n_games,
          |       CAST(sum(pa * games) // sum(games) AS BIGINT) AS pred_micro,
          |       CAST((sum(wins_a) * 1000000) // sum(games) AS BIGINT) AS actual_micro
          |FROM bb GROUP BY 1""".stripMargin),

    // coverage: item games from the win/loss union, observed pairs
    // from the canonical a<b matrix; all divisions non-negative
    "x_pref_coverage" ->
      (s"WITH $prefGamesSql,\n" +
        """wl AS (SELECT winner AS item FROM games
          |       UNION ALL SELECT loser FROM games),
          |it AS (SELECT item, CAST(count(*) AS BIGINT) AS g FROM wl
          |       WHERE item IS NOT NULL GROUP BY 1),
          |top AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
          |          CAST(coalesce(sum(CASE WHEN g < 3 THEN 1 END), 0) AS BIGINT) AS under
          |        FROM it),
          |pm AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs_observed FROM (
          |         SELECT least(winner, loser) AS a, greatest(winner, loser) AS b
          |         FROM games
          |         WHERE winner IS NOT NULL AND loser IS NOT NULL AND winner <> loser
          |         GROUP BY 1, 2))
          |SELECT n_items, n_pairs_observed,
          |       CAST((n_items * (n_items - 1)) // 2 AS BIGINT) AS n_pairs_possible,
          |       CASE WHEN n_items >= 2
          |         THEN CAST((n_pairs_observed * 1000000) // ((n_items * (n_items - 1)) // 2) AS BIGINT)
          |       END AS coverage_micro,
          |       under AS n_items_under_min
          |FROM top, pm""".stripMargin),

    // ECE: the calibration CTE chain aggregated once; all operands
    // non-negative so // == div
    "x_pref_ece" ->
      (btOracleCtes(4) + ",\n" +
        """pm AS (SELECT least(winner, loser) AS item_a, greatest(winner, loser) AS item_b,
          |         CAST(count(*) AS BIGINT) AS games,
          |         CAST(sum(CASE WHEN winner < loser THEN 1 ELSE 0 END) AS BIGINT) AS wins_a
          |       FROM games GROUP BY 1, 2),
          |jj AS (SELECT p.games, p.wins_a,
          |         CAST((sa.s * 1000000) // (sa.s + sb.s) AS BIGINT) AS pa
          |       FROM pm p JOIN s4 sa ON p.item_a = sa.item
          |                 JOIN s4 sb ON p.item_b = sb.item),
          |bb AS (SELECT least((pa * 10) // 1000000, 9) AS bin, games, wins_a, pa
          |       FROM jj),
          |cal AS (SELECT bin,
          |          CAST(sum(games) AS BIGINT) AS n_games,
          |          CAST(sum(pa * games) // sum(games) AS BIGINT) AS pred_micro,
          |          CAST((sum(wins_a) * 1000000) // sum(games) AS BIGINT) AS actual_micro
          |        FROM bb GROUP BY 1)
          |SELECT CAST(count(*) AS BIGINT) AS n_bins,
          |       CAST(coalesce(sum(n_games), 0) AS BIGINT) AS n_games,
          |       CASE WHEN coalesce(sum(n_games), 0) > 0
          |         THEN CAST(sum(abs(pred_micro - actual_micro) * n_games) // sum(n_games) AS BIGINT)
          |       END AS ece_micro,
          |       CAST(coalesce(max(abs(pred_micro - actual_micro)), 0) AS BIGINT) AS max_gap_micro
          |FROM cal""".stripMargin),

    // rater matrix: the collapsed panel self-joined on item, unordered
    // rater pairs by string order
    "x_pref_rater_matrix" ->
      s"""WITH $raterPanelSql,
         |one AS (SELECT item, rater, min(label) AS label FROM panel
         |        WHERE item IS NOT NULL AND label IS NOT NULL GROUP BY 1, 2),
         |j AS (SELECT a.rater AS rater_a, b.rater AS rater_b,
         |             CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS agree
         |      FROM one a JOIN one b ON a.item = b.item AND a.rater < b.rater)
         |SELECT rater_a, rater_b, CAST(count(*) AS BIGINT) AS n_items,
         |       CAST(coalesce(sum(agree), 0) AS BIGINT) AS n_agree,
         |       CAST((coalesce(sum(agree), 0) * 1000000) // count(*) AS BIGINT) AS agree_micro
         |FROM j GROUP BY 1, 2""".stripMargin,

    // reconciliation: two scalar counts, the planted ~1% loss judged
    // against a 2% budget and the exact rule
    "x_qc_reconcile" ->
      """WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM orders),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS n_dst FROM orders
        |      WHERE o_orderkey % 97 <> 0),
        |r AS (SELECT n_src, n_dst, n_dst - n_src AS delta,
        |        CASE WHEN n_src > 0
        |          THEN CAST((abs(n_dst - n_src) * 1000000) // n_src AS BIGINT)
        |        END AS drift_micro
        |      FROM s, d)
        |SELECT 'orders.sampled_2pct_budget' AS rule, n_src, n_dst, delta, drift_micro,
        |       CASE WHEN n_src > 0 THEN drift_micro <= 20000 ELSE n_dst = 0 END AS within_tolerance
        |FROM r
        |UNION ALL
        |SELECT 'orders.exact', n_src, n_dst, delta, drift_micro,
        |       CASE WHEN n_src > 0 THEN drift_micro <= 0 ELSE n_dst = 0 END
        |FROM r""".stripMargin,

    // length-bias: both game CTEs unioned, per-item max-length table,
    // two joins + one aggregate; mean_delta sign-factored (Spark div
    // truncates toward zero, DuckDB // floors)
    "x_pref_lenbias" ->
      (s"WITH $prefGamesSql,\n" + prefGames2Sql + ",\n" +
        """allg AS (SELECT winner, loser FROM games
          |         UNION ALL SELECT winner, loser FROM games2),
          |lens AS (SELECT CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) AS item,
          |                CAST(max(n_chars) AS BIGINT) AS len
          |         FROM documents GROUP BY 1),
          |j AS (SELECT w.len AS wlen, l.len AS llen FROM allg g
          |      JOIN lens w ON g.winner = w.item
          |      JOIN lens l ON g.loser = l.item),
          |a AS (SELECT CAST(count(*) AS BIGINT) AS n_games,
          |        CAST(coalesce(sum(CASE WHEN wlen = llen THEN 1 END), 0) AS BIGINT) AS n_len_ties,
          |        CAST(coalesce(sum(CASE WHEN wlen > llen THEN 1 END), 0) AS BIGINT) AS n_longer_wins,
          |        CAST(coalesce(sum(wlen - llen), 0) AS BIGINT) AS delta_sum
          |      FROM j)
          |SELECT n_games, n_len_ties, n_longer_wins,
          |       CASE WHEN n_games > n_len_ties
          |         THEN CAST((n_longer_wins * 1000000) // (n_games - n_len_ties) AS BIGINT)
          |       END AS longer_win_micro,
          |       delta_sum,
          |       CASE WHEN n_games = 0 THEN NULL
          |            WHEN delta_sum >= 0 THEN CAST((delta_sum * 1000000) // n_games AS BIGINT)
          |            ELSE CAST(-((-delta_sum * 1000000) // n_games) AS BIGINT)
          |       END AS mean_delta_micro
          |FROM a""".stripMargin),

    // Krippendorff's alpha: the coincidence-matrix integer-micro spec
    // replayed CTE by CTE — per-item agreement-mass floors, pooled
    // chance mass over KEPT items, sign-factored final division
    "x_pref_alpha" ->
      s"""WITH $raterPanelSql,
         |one AS (SELECT item, rater, min(label) AS label FROM panel
         |        WHERE item IS NOT NULL AND label IS NOT NULL GROUP BY 1, 2),
         |nik AS (SELECT item, label, CAST(count(*) AS BIGINT) AS nik
         |        FROM one GROUP BY 1, 2),
         |byitem AS (SELECT item, CAST(sum(nik) AS BIGINT) AS ni,
         |                  CAST(sum(nik * (nik - 1)) AS BIGINT) AS agr
         |           FROM nik GROUP BY 1),
         |kept AS (SELECT *,
         |           CAST((agr * 1000000) // (ni - 1) AS BIGINT) AS okk
         |         FROM byitem WHERE ni >= 2),
         |top AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
         |               CAST(coalesce(sum(ni), 0) AS BIGINT) AS n_ratings,
         |               CAST(coalesce(sum(okk), 0) AS BIGINT) AS okksum
         |        FROM kept),
         |marg AS (SELECT CAST(coalesce(sum(ck * (ck - 1)), 0) AS BIGINT) AS ce FROM (
         |           SELECT n.label, CAST(sum(n.nik) AS BIGINT) AS ck
         |           FROM nik n JOIN kept k USING (item) GROUP BY 1)),
         |po AS (SELECT n_items, n_ratings,
         |         CASE WHEN n_items > 0 AND n_ratings >= 2
         |           THEN CAST(n_ratings * 1000000 - okksum AS BIGINT) END AS do_micro,
         |         CASE WHEN n_items > 0 AND n_ratings >= 2
         |           THEN CAST(n_ratings * 1000000 - (ce * 1000000) // (n_ratings - 1) AS BIGINT) END AS de_micro
         |       FROM top, marg)
         |SELECT n_items, n_ratings, do_micro, de_micro,
         |       CASE WHEN de_micro IS NULL OR de_micro <= 0 THEN NULL
         |            WHEN de_micro >= do_micro
         |              THEN CAST(((de_micro - do_micro) * 1000000) // de_micro AS BIGINT)
         |            ELSE CAST(-(((do_micro - de_micro) * 1000000) // de_micro) AS BIGINT)
         |       END AS alpha_micro
         |FROM po""".stripMargin,

    // consensus election: vote counts, per-item max, min-label tie rule
    "x_pref_consensus" ->
      s"""WITH $raterPanelSql,
         |one AS (SELECT item, rater, min(label) AS label FROM panel
         |        WHERE item IS NOT NULL AND label IS NOT NULL GROUP BY 1, 2),
         |nik AS (SELECT item, label, CAST(count(*) AS BIGINT) AS votes
         |        FROM one GROUP BY 1, 2),
         |byitem AS (SELECT item, CAST(sum(votes) AS BIGINT) AS n_ratings,
         |                  CAST(max(votes) AS BIGINT) AS top
         |           FROM nik GROUP BY 1)
         |SELECT n.item, b.n_ratings, min(n.label) AS consensus_label,
         |       b.top AS votes,
         |       CAST((b.top * 1000000) // b.n_ratings AS BIGINT) AS share_micro
         |FROM nik n JOIN byitem b USING (item)
         |WHERE n.votes = b.top
         |GROUP BY n.item, b.n_ratings, b.top""".stripMargin,

    // per-rater agreement vs the consensus election
    "x_pref_rater_agree" ->
      s"""WITH $raterPanelSql,
         |one AS (SELECT item, rater, min(label) AS label FROM panel
         |        WHERE item IS NOT NULL AND label IS NOT NULL GROUP BY 1, 2),
         |nik AS (SELECT item, label, CAST(count(*) AS BIGINT) AS votes
         |        FROM one GROUP BY 1, 2),
         |byitem AS (SELECT item, CAST(sum(votes) AS BIGINT) AS n_ratings,
         |                  CAST(max(votes) AS BIGINT) AS top
         |           FROM nik GROUP BY 1),
         |cons AS (SELECT n.item, min(n.label) AS consensus_label
         |         FROM nik n JOIN byitem b USING (item)
         |         WHERE n.votes = b.top GROUP BY 1)
         |SELECT o.rater, CAST(count(*) AS BIGINT) AS n_items,
         |       CAST(coalesce(sum(CASE WHEN o.label = c.consensus_label THEN 1 END), 0) AS BIGINT) AS n_agree,
         |       CAST((coalesce(sum(CASE WHEN o.label = c.consensus_label THEN 1 END), 0) * 1000000) // count(*) AS BIGINT) AS agree_micro
         |FROM one o JOIN cons c USING (item)
         |GROUP BY 1""".stripMargin,

    // warm-start refresh: the wave-1 chain (4 iterations) feeds the
    // merged-wave chain's s0 via LEFT JOIN coalesce (new items
    // cold-start at 1e6), then 2 warm iterations — both chains
    // MATERIALIZED per step like every BT oracle
    "x_pref_bt_refresh" ->
      (s"WITH $prefGamesSql,\n" +
        btChainCtes("", "games", None, 4) + ",\n" +
        prefGames2Sql + ",\n" +
        "mgames AS (SELECT * FROM games UNION ALL SELECT * FROM games2),\n" +
        btChainCtes("m", "mgames", Some("s4"), 2) +
        """
          |SELECT t.item, t.wins, t.games, ms2.s AS strength_micro
          |FROM mtotals t JOIN ms2 USING (item)""".stripMargin),

    // per-wave kappa + predecessor deltas: the cohenKappa chain with
    // the wave key threaded through, the prev wave found by the
    // max-less-than self-join (no window, summary-sized)
    "x_pref_kappa_waves" ->
      s"""WITH $raterWaveSql,
         |one AS (SELECT wave, item, rater, min(label) AS label FROM waved
         |        WHERE wave IS NOT NULL AND item IS NOT NULL AND label IS NOT NULL
         |        GROUP BY 1, 2, 3),
         |a AS (SELECT wave, item, label AS la FROM one WHERE rater = 'a'),
         |b AS (SELECT wave, item, label AS lb FROM one WHERE rater = 'b'),
         |bth AS (SELECT a.wave, a.item, a.la, b.lb FROM a JOIN b USING (wave, item)),
         |agg AS (SELECT wave, CAST(count(*) AS BIGINT) AS n_items,
         |          CAST(coalesce(sum(CASE WHEN la = lb THEN 1 END), 0) AS BIGINT) AS n_agree
         |        FROM bth GROUP BY 1),
         |ca AS (SELECT wave, la AS label, CAST(count(*) AS BIGINT) AS ca FROM bth GROUP BY 1, 2),
         |cb AS (SELECT wave, lb AS label, CAST(count(*) AS BIGINT) AS cb FROM bth GROUP BY 1, 2),
         |ch AS (SELECT wave, CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS crs
         |       FROM ca JOIN cb USING (wave, label) GROUP BY 1),
         |k2 AS MATERIALIZED (
         |  SELECT g.wave, g.n_items, g.n_agree,
         |         CASE WHEN g.n_items > 0
         |           THEN CAST((g.n_agree * 1000000) // g.n_items AS BIGINT) END AS po_micro,
         |         CASE WHEN g.n_items > 0
         |           THEN CAST((c.crs * 1000000) // (g.n_items * g.n_items) AS BIGINT) END AS pe_micro
         |  FROM agg g JOIN ch c USING (wave)),
         |k3 AS MATERIALIZED (
         |  SELECT *, CASE WHEN pe_micro >= 1000000 THEN NULL
         |              WHEN po_micro >= pe_micro
         |                THEN CAST(((po_micro - pe_micro) * 1000000) // (1000000 - pe_micro) AS BIGINT)
         |              ELSE CAST(-(((pe_micro - po_micro) * 1000000) // (1000000 - pe_micro)) AS BIGINT)
         |            END AS kappa_micro
         |  FROM k2),
         |pw AS (SELECT a.wave, max(b.wave) AS prev_wave
         |       FROM k3 a JOIN k3 b ON b.wave < a.wave GROUP BY 1)
         |SELECT k3.wave, k3.n_items, k3.n_agree, k3.po_micro, k3.pe_micro,
         |       k3.kappa_micro, p.kappa_micro AS prev_kappa_micro,
         |       k3.kappa_micro - p.kappa_micro AS delta_micro
         |FROM k3 LEFT JOIN pw ON k3.wave = pw.wave
         |        LEFT JOIN k3 p ON p.wave = pw.prev_wave""".stripMargin,

    // the persisted-artifact refresh is bit-identical to the live one
    // (lossless long roundtrip through parquet, ModelsSpec-pinned), so
    // the oracle is the identical two-chain unroll
    "x_pref_bt_saved" ->
      (s"WITH $prefGamesSql,\n" +
        btChainCtes("", "games", None, 4) + ",\n" +
        prefGames2Sql + ",\n" +
        "mgames AS (SELECT * FROM games UNION ALL SELECT * FROM games2),\n" +
        btChainCtes("m", "mgames", Some("s4"), 2) +
        """
          |SELECT t.item, t.wins, t.games, ms2.s AS strength_micro
          |FROM mtotals t JOIN ms2 USING (item)""".stripMargin),

    // seeded Laplace counts: poly-hash -> affine -> centered uniform ->
    // inverse CDF, every float op in the same order as the Scala side;
    // the single ln per group is floor-micro-rounded (entropy precedent).
    // chr(31) mirrors the Scala side's U+001F group/salt domain separator
    "x_priv_dpcounts" ->
      s"""WITH c AS (SELECT source AS "group", CAST(count(*) AS BIGINT) AS n
         |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
         |h AS (SELECT *, ((${polyHashSqlOf("\"group\" || chr(31) || 'release-2'")} % 1000003) * 514229 + 741103) % 1000003 AS hv
         |      FROM c),
         |u AS (SELECT *, (CAST(hv AS DOUBLE) + 0.5) / 1000003.0 - 0.5 AS cdev FROM h),
         |z AS (SELECT *, CAST(floor((((-2.0) * sign(cdev)) * ln(1.0 - 2.0 * abs(cdev)))
         |        * 1000000.0 + 0.5) AS BIGINT) AS noise_micro FROM u)
         |SELECT "group", n, noise_micro,
         |       CAST(n * 1000000 + noise_micro AS BIGINT) AS noisy_count_micro,
         |       CAST(500000 AS BIGINT) AS epsilon_micro
         |FROM z""".stripMargin,

    // DP mean: clamped micro sums (exact BIGINT), the two
    // domain-separated draws at the interpolated Scala scales, halfUp-6
    // double mean of two exact longs
    "x_priv_dpmean" ->
      s"""WITH c AS (SELECT source AS "group", CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(least(greatest(CAST(floor(CAST(n_chars AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT), $DpMeanLoMicro), $DpMeanHiMicro)) AS BIGINT) AS sum_micro
         |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
         |z AS (SELECT *,
         |    ${laplaceNoiseSqlOf("\"group\" || chr(31) || 'release-3' || chr(31) || 'sum'", DpMeanBSum)} AS noise_sum_micro,
         |    ${laplaceNoiseSqlOf("\"group\" || chr(31) || 'release-3' || chr(31) || 'cnt'", DpMeanBCnt)} AS noise_count_micro
         |  FROM c)
         |SELECT "group", n, sum_micro, noise_sum_micro, noise_count_micro,
         |  CAST(sum_micro + noise_sum_micro AS BIGINT) AS noisy_sum_micro,
         |  CAST(n * 1000000 + noise_count_micro AS BIGINT) AS noisy_count_micro,
         |  CASE WHEN n * 1000000 + noise_count_micro > 0
         |    THEN ${graft.ops.Rounding.halfUpSql("CAST(sum_micro + noise_sum_micro AS DOUBLE) / CAST(n * 1000000 + noise_count_micro AS DOUBLE)", 6)}
         |  END AS dp_mean,
         |  CAST($DpMeanEpsMicro AS BIGINT) AS epsilon_micro
         |FROM z""".stripMargin,

    // DP quantile: clamp+floor to the public lattice (exact integer
    // div), dense per-group lattice via range(), cumulative ranks,
    // the seeded Gumbel at the interpolated eps/2 weight, min
    // candidate among max-score ties
    "x_priv_dpquantile" ->
      s"""WITH c AS (SELECT source AS "group",
         |    CAST((least(greatest(CAST(n_chars AS BIGINT), $DpQLo), $DpQHi) - $DpQLo) // $DpQStep AS BIGINT) AS b
         |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
         |cnt AS (SELECT "group", b, CAST(count(*) AS BIGINT) AS c FROM c GROUP BY 1, 2),
         |g AS (SELECT "group", CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
         |lat AS (SELECT g."group", g.n, t.b FROM g CROSS JOIN (SELECT unnest(range(0, $DpQNb)) AS b) t),
         |j AS (SELECT lat."group", lat.n, lat.b, CAST(coalesce(cnt.c, 0) AS BIGINT) AS c
         |      FROM lat LEFT JOIN cnt ON lat."group" = cnt."group" AND lat.b = cnt.b),
         |w AS (SELECT *,
         |        CAST(sum(c) OVER (PARTITION BY "group" ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS r,
         |        CAST(n * $DpQMicro // 1000000 AS BIGINT) AS t
         |      FROM j),
         |u AS (SELECT *, (CAST(((${polyHashSqlOf("\"group\" || chr(31) || 'release-4' || chr(31) || 'quantile' || chr(31) || CAST(b AS VARCHAR)")} % 1000003) * 514229 + 741103) % 1000003 AS DOUBLE) + 0.5) / 1000003.0 AS unif
         |      FROM w),
         |sc AS (SELECT *, CAST(floor((CAST(-abs(r - t) AS DOUBLE) * $DpQEpsHalf + (- ln(- ln(unif)))) * 1000000.0 + 0.5) AS BIGINT) AS score FROM u),
         |m AS (SELECT "group", max(score) AS best FROM sc GROUP BY 1)
         |SELECT sc."group", CAST(min(sc.n) AS BIGINT) AS n,
         |       CAST(min(sc.t) AS BIGINT) AS target_rank,
         |       CAST(min($DpQLo + sc.b * $DpQStep) AS BIGINT) AS dp_quantile,
         |       CAST($DpQMicro AS BIGINT) AS q_micro,
         |       CAST($DpQEpsMicro AS BIGINT) AS epsilon_micro
         |FROM sc JOIN m ON sc."group" = m."group" AND sc.score = m.best
         |GROUP BY 1""".stripMargin,

    // epsilon ledger over the same release log the Spark side derives
    // from its release outputs (the epsilons are release-call
    // constants, so the log rows are literal here)
    "x_priv_ledger" ->
      s"""WITH log AS (
         |  SELECT 'release-1' AS release_salt, CAST(500000 AS BIGINT) AS eps
         |  UNION ALL SELECT 'release-2', 500000
         |  UNION ALL SELECT 'release-2', 500000
         |  UNION ALL SELECT 'release-3', $DpMeanEpsMicro),
         |per AS (SELECT release_salt, CAST(count(*) AS BIGINT) AS n_uses,
         |          CAST(count(DISTINCT eps) AS BIGINT) AS n_eps_variants,
         |          CAST(max(eps) AS BIGINT) AS epsilon_micro
         |        FROM log GROUP BY 1)
         |SELECT * FROM per
         |UNION ALL
         |SELECT '__total__', CAST(coalesce(sum(n_uses), 0) AS BIGINT),
         |       CAST(coalesce(sum(n_eps_variants), 0) AS BIGINT),
         |       CAST(coalesce(sum(epsilon_micro), 0) AS BIGINT)
         |FROM per""".stripMargin,

    // referential contract audit over the planted violations: distinct
    // parent keys left-joined under the child, three counters per rule
    "x_qc_refint" ->
      """WITH cust AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 10 <> 0),
        |o AS (SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_custkey END AS fk
        |      FROM orders),
        |r1 AS (SELECT 'orders->customer' AS rule, CAST(count(*) AS BIGINT) AS n_child,
        |    CAST(coalesce(sum(CASE WHEN o.fk IS NULL THEN 1 END), 0) AS BIGINT) AS n_null_keys,
        |    CAST(coalesce(sum(CASE WHEN o.fk IS NOT NULL AND cust.c_custkey IS NULL THEN 1 END), 0) AS BIGINT) AS n_orphans
        |  FROM o LEFT JOIN cust ON o.fk = cust.c_custkey),
        |ord2 AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 7 <> 0),
        |r2 AS (SELECT 'lineitem->orders' AS rule, CAST(count(*) AS BIGINT) AS n_child,
        |    CAST(coalesce(sum(CASE WHEN l.l_orderkey IS NULL THEN 1 END), 0) AS BIGINT) AS n_null_keys,
        |    CAST(coalesce(sum(CASE WHEN l.l_orderkey IS NOT NULL AND ord2.o_orderkey IS NULL THEN 1 END), 0) AS BIGINT) AS n_orphans
        |  FROM lineitem l LEFT JOIN ord2 ON l.l_orderkey = ord2.o_orderkey)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2""".stripMargin,

    // id-sequence completeness: span - distinct = missing ids
    "x_qc_gaps" ->
      """WITH a AS (SELECT 'orders.o_orderkey' AS rule,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |    CAST(min(o_orderkey) AS BIGINT) AS min_id,
        |    CAST(max(o_orderkey) AS BIGINT) AS max_id
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        |b AS (SELECT 'events.event_id' AS rule,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |    CAST(min(event_id) AS BIGINT) AS min_id,
        |    CAST(max(event_id) AS BIGINT) AS max_id
        |  FROM events WHERE event_id IS NOT NULL),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
        |SELECT rule, n_rows, n_distinct, min_id, max_id,
        |       CAST(max_id - min_id + 1 - n_distinct AS BIGINT) AS n_missing,
        |       CAST(n_rows - n_distinct AS BIGINT) AS n_dupes
        |FROM u""".stripMargin,

    // uniqueness over the planted-dup view (every 10th row twice,
    // every 97th key nulled) — per-key counts then one summary
    "x_qc_unique" ->
      s"""WITH $qcDupedOrdersSql,
         |pk AS (SELECT (k1 IS NULL OR k2 IS NULL) AS isn, k1, k2,
         |              CAST(count(*) AS BIGINT) AS c
         |       FROM v GROUP BY 1, 2, 3)
         |SELECT 'orders.pk' AS rule,
         |  CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows,
         |  CAST(coalesce(sum(CASE WHEN isn THEN c END), 0) AS BIGINT) AS n_null_keys,
         |  CAST(coalesce(sum(CASE WHEN NOT isn THEN 1 END), 0) AS BIGINT) AS n_distinct,
         |  CAST(coalesce(sum(CASE WHEN NOT isn AND c > 1 THEN 1 END), 0) AS BIGINT) AS n_dupe_keys,
         |  CAST(coalesce(sum(CASE WHEN NOT isn THEN c - 1 END), 0) AS BIGINT) AS n_dupe_rows
         |FROM pk""".stripMargin,

    // accepted-values: per-value counts then one summary; min_invalid
    // is the deterministic witness
    "x_qc_enum" ->
      """WITH e AS (SELECT CASE WHEN event_id % 101 = 0 THEN NULL
        |                       ELSE event_type END AS v FROM events),
        |pv AS (SELECT v, CAST(count(*) AS BIGINT) AS c,
        |         (v IS NOT NULL AND
        |          v NOT IN ('click', 'view', 'signup', 'purchase')) AS bad
        |       FROM e GROUP BY 1)
        |SELECT 'events.event_type' AS rule,
        |  CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(CASE WHEN v IS NULL THEN c END), 0) AS BIGINT) AS n_null,
        |  CAST(coalesce(sum(CASE WHEN bad THEN c END), 0) AS BIGINT) AS n_invalid,
        |  CAST(coalesce(sum(CASE WHEN bad THEN 1 END), 0) AS BIGINT) AS n_invalid_values,
        |  min(CASE WHEN bad THEN v END) AS min_invalid
        |FROM pv""".stripMargin,

    // accepted-range on the integral-valued quantity (floor == Spark's
    // truncating cast for these non-negative integral doubles)
    "x_qc_range" ->
      """SELECT 'lineitem.l_quantity' AS rule,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(CASE WHEN l_quantity IS NULL THEN 1 END), 0) AS BIGINT) AS n_null,
        |  CAST(coalesce(sum(CASE WHEN CAST(floor(l_quantity) AS BIGINT) < 5 THEN 1 END), 0) AS BIGINT) AS n_below,
        |  CAST(coalesce(sum(CASE WHEN CAST(floor(l_quantity) AS BIGINT) > 45 THEN 1 END), 0) AS BIGINT) AS n_above,
        |  CAST(min(floor(l_quantity)) AS BIGINT) AS min_v,
        |  CAST(max(floor(l_quantity)) AS BIGINT) AS max_v
        |FROM lineitem""".stripMargin,

    // freshness vs the fixed as-of literal; lag replays Spark's
    // truncating div via the sign-factored // form
    "x_qc_fresh" ->
      s"""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |             CAST(max(epoch_us(ts)) AS BIGINT) AS max_epoch_us
         |           FROM events),
         |l AS (SELECT *,
         |        CAST(CASE WHEN $QcAsOfEpochUs - max_epoch_us >= 0
         |               THEN ($QcAsOfEpochUs - max_epoch_us) // 1000000
         |               ELSE -((max_epoch_us - $QcAsOfEpochUs) // 1000000)
         |             END AS BIGINT) AS lag_s
         |      FROM m)
         |SELECT 'events.ts.weekly' AS rule, n_rows, max_epoch_us, lag_s,
         |       coalesce(lag_s <= ${7L * 86400L}, false) AS is_fresh FROM l
         |UNION ALL
         |SELECT 'events.ts.hourly' AS rule, n_rows, max_epoch_us, lag_s,
         |       coalesce(lag_s <= 3600, false) AS is_fresh FROM l""".stripMargin,

    // the composed report: every contract's (rule, n_rows,
    // n_violations) normalization unioned
    "x_qc_report" ->
      s"""WITH $qcDupedOrdersSql,
         |pk AS (SELECT (k1 IS NULL OR k2 IS NULL) AS isn, k1, k2,
         |              CAST(count(*) AS BIGINT) AS c
         |       FROM v GROUP BY 1, 2, 3),
         |refp AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey IS NOT NULL),
         |refint AS (SELECT 'orders->customer' AS rule,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(coalesce(sum(CASE WHEN o.o_custkey IS NULL THEN 1 END), 0) +
         |         coalesce(sum(CASE WHEN o.o_custkey IS NOT NULL AND refp.c_custkey IS NULL THEN 1 END), 0) AS BIGINT) AS n_violations
         |  FROM orders o LEFT JOIN refp ON o.o_custkey = refp.c_custkey),
         |gaps AS (SELECT 'events.event_id' AS rule,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST((max(event_id) - min(event_id) + 1 - count(DISTINCT event_id)) +
         |         (count(*) - count(DISTINCT event_id)) AS BIGINT) AS n_violations
         |  FROM events WHERE event_id IS NOT NULL),
         |uniq AS (SELECT 'orders.pk' AS rule,
         |    CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows,
         |    CAST(coalesce(sum(CASE WHEN isn THEN c END), 0) +
         |         coalesce(sum(CASE WHEN NOT isn THEN c - 1 END), 0) AS BIGINT) AS n_violations
         |  FROM pk),
         |enums AS (SELECT 'events.event_type' AS rule,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(coalesce(sum(CASE WHEN event_type IS NULL THEN 1 END), 0) +
         |         coalesce(sum(CASE WHEN event_type IS NOT NULL AND
         |           event_type NOT IN ('click', 'view', 'signup', 'purchase') THEN 1 END), 0) AS BIGINT) AS n_violations
         |  FROM events),
         |rng AS (SELECT 'lineitem.l_quantity' AS rule,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(coalesce(sum(CASE WHEN l_quantity IS NULL THEN 1 END), 0) +
         |         coalesce(sum(CASE WHEN CAST(floor(l_quantity) AS BIGINT) < 5 THEN 1 END), 0) +
         |         coalesce(sum(CASE WHEN CAST(floor(l_quantity) AS BIGINT) > 45 THEN 1 END), 0) AS BIGINT) AS n_violations
         |  FROM lineitem),
         |fr AS (SELECT 'events.ts.hourly' AS rule,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    CASE WHEN coalesce(
         |           CAST(CASE WHEN $QcAsOfEpochUs - max(epoch_us(ts)) >= 0
         |                  THEN ($QcAsOfEpochUs - max(epoch_us(ts))) // 1000000
         |                  ELSE -((max(epoch_us(ts)) - $QcAsOfEpochUs) // 1000000)
         |                END AS BIGINT) <= 3600, false)
         |         THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS n_violations
         |  FROM events)
         |SELECT * FROM refint UNION ALL SELECT * FROM gaps
         |UNION ALL SELECT * FROM uniq UNION ALL SELECT * FROM enums
         |UNION ALL SELECT * FROM rng UNION ALL SELECT * FROM fr""".stripMargin,
  )
}
