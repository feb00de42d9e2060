package graft.scale

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Preference operators: rollups must count exactly, and the
  * fixed-iteration Bradley-Terry must rank a transitive tournament
  * correctly with the winner pinned at the 1e6 rescale ceiling.
  */
class PreferencesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // round-robin: 1 beats 2 (3:1), 2 beats 3 (3:1), 1 beats 3 (4:0)
  private def games = Seq(
    (1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L),
    (2L, 3L), (2L, 3L), (2L, 3L), (3L, 2L),
    (1L, 3L), (1L, 3L), (1L, 3L), (1L, 3L)
  ).toDF("winner", "loser")

  test("itemStats: exact wins/losses/games and integer winrate") {
    val m = Preferences.itemStats(games, "winner", "loser")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(m(1L) === ((7L, 1L, 8L, 875000L)))
    assert(m(2L) === ((4L, 4L, 8L, 500000L)))
    assert(m(3L) === ((1L, 7L, 8L, 125000L)))
  }

  test("pairStats: canonical a<b pairs, wins_a exact, self-games dropped") {
    val withSelf = games.union(Seq((5L, 5L)).toDF("winner", "loser"))
    val m = Preferences.pairStats(withSelf, "winner", "loser")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(m.size === 3)
    assert(m((1L, 2L)) === ((4L, 3L)))
    assert(m((2L, 3L)) === ((4L, 3L)))
    assert(m((1L, 3L)) === ((4L, 4L)))
  }

  test("btStrengths: transitive tournament ranks 1 > 2 > 3, winner at the 1e6 ceiling") {
    val s = Preferences.btStrengths(games, "winner", "loser", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(s(1L) === 1000000L) // max-divisor rescale pins the leader
    assert(s(1L) > s(2L) && s(2L) > s(3L))
    assert(s(3L) > 0L) // Laplace smoothing keeps everyone positive
  }

  test("btStrengths: a winless item still ranks by its opposition, no division blowup") {
    val g = Seq((1L, 2L), (1L, 2L), (2L, 3L), (1L, 3L)).toDF("winner", "loser")
    val s = Preferences.btStrengths(g, "winner", "loser", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(s(1L) === 1000000L && s(3L) > 0L && s(1L) > s(2L) && s(2L) > s(3L))
  }

  test("bt driver fold ≡ distributed loop: strengths, warm-start, and deltas bit-identical") {
    // the DriverFold hybrid (spark.graft.maxDriverRows): the driver MM
    // fold must replay the distributed
    // integer chain exactly — cold fit, warm-started refresh, and the
    // convergence curve all compare collected-and-sorted
    val g = (for (a <- 1 to 9; b <- 1 to 9 if a < b; r <- 1 to (a * b) % 3 + 1)
      yield if ((a * 5 + b * 11 + r) % 7 < 4) (a.toLong, b.toLong) else (b.toLong, a.toLong))
      .toDF("winner", "loser")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().toSeq
    def underDistributed[A](f: => A): A =
      SparkTestSession.withConf(DriverFold.Conf, "0")(f)
    val coldD = sorted(Preferences.btStrengths(g, "winner", "loser", iterations = 4))
    val coldL = underDistributed(
      sorted(Preferences.btStrengths(g, "winner", "loser", iterations = 4)))
    assert(coldD === coldL)
    val prev = Preferences.btStrengths(g, "winner", "loser", iterations = 4)
    val pairs = Preferences.pairStats(g, "winner", "loser")
    val warmD = sorted(Preferences.btStrengthsFromPairs(pairs, iterations = 2, init = Some(prev)))
    val warmL = underDistributed(
      sorted(Preferences.btStrengthsFromPairs(pairs, iterations = 2, init = Some(prev))))
    assert(warmD === warmL)
    val curveD = sorted(Preferences.btConvergence(g, "winner", "loser", iterations = 6))
    val curveL = underDistributed(
      sorted(Preferences.btConvergence(g, "winner", "loser", iterations = 6)))
    assert(curveD === curveL)
  }

  test("distributed BT loop: the analyzed plan is the same size at 5 and 9 iterations") {
    // every MM step ends in a barrier, so a deeper run adds no plan
    // nodes: lineage stays bounded at any iteration count
    import org.apache.spark.sql.DataFrame
    val g = (for (a <- 1 to 9; b <- 1 to 9 if a < b; r <- 1 to (a * b) % 3 + 1)
      yield if ((a * 5 + b * 11 + r) % 7 < 4) (a.toLong, b.toLong) else (b.toLong, a.toLong))
      .toDF("winner", "loser")
    def planSize(df: DataFrame): Int = df.queryExecution.analyzed.collect { case p => p }.size
    SparkTestSession.withConf(DriverFold.Conf, "0") {
      val pairs = Preferences.pairStats(g, "winner", "loser")
      val prev = Preferences.btStrengths(g, "winner", "loser", iterations = 2)
      Seq[(String, Int => DataFrame)](
        "btStrengths" -> (n => Preferences.btStrengths(g, "winner", "loser", iterations = n)),
        "btStrengthsFromPairs" -> (n =>
          Preferences.btStrengthsFromPairs(pairs, iterations = n, init = Some(prev)))
      ).foreach { case (name, run) =>
        assert(planSize(run(5)) === planSize(run(9)), name)
      }
    }
  }

  test("btConvergence: decaying deltas; the default 4 iterations is rank-stable vs 8") {
    // a denser deterministic tournament than `games`: 12 items, every
    // pair played 1-4 times with a hash-seeded but fixed outcome
    val g = (for (a <- 1 to 12; b <- 1 to 12 if a < b; r <- 1 to (a + b) % 4 + 1)
      yield if ((a * 7 + b * 3 + r) % 5 < 3) (a.toLong, b.toLong) else (b.toLong, a.toLong))
      .toDF("winner", "loser")
    val curve = Preferences.btConvergence(g, "winner", "loser", iterations = 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert((2 to 8).forall(i => curve(i) <= curve(i - 1)),
      s"per-iteration max deltas must not grow: $curve")
    assert(curve(4) < curve(1) / 5,
      s"by the default 4 iterations the step must shrink below 20% of step 1: $curve")
    def ranking(iters: Int) =
      Preferences.btStrengths(g, "winner", "loser", iterations = iters)
        .orderBy(desc("strength_micro"), asc("item"))
        .select("item").as[Long].collect().toSeq
    assert(ranking(4) === ranking(8),
      "the default iteration count must already be rank-stable vs 2x the iterations")
  }

  test("winRateWilson: brackets p, shrinks with sample size, replays the formula") {
    val w = Preferences.winRateWilson(games, "winner", "loser")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getDouble(5), r.getDouble(6)))).toMap
    // independent replay of the documented expression for item 1 (7/8)
    def wilson(wins: Long, n: Long): (Double, Double) = {
      val z = 1.96; val nn = n.toDouble; val p = wins.toDouble / nn
      val zz = z * z
      val a = p + zz / (2.0 * nn)
      val b = math.sqrt(p * (1.0 - p) / nn + zz / (4.0 * (nn * nn)))
      val den = 1.0 + zz / nn
      (math.floor((a - z * b) / den * 1e6 + 0.5) / 1e6,
        math.floor((a + z * b) / den * 1e6 + 0.5) / 1e6)
    }
    val (lo1, hi1) = wilson(7L, 8L)
    assert(w(1L)._3 === lo1 && w(1L)._4 === hi1)
    assert(w(1L)._3 < 0.875 && 0.875 < w(1L)._4)
    // 4x the games at the same rate -> strictly narrower band
    val big = games.union(games).union(games).union(games)
    val wb = Preferences.winRateWilson(big, "winner", "loser")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(5), r.getDouble(6)))).toMap
    assert(wb(1L)._2 - wb(1L)._1 < w(1L)._4 - w(1L)._3)
  }

  test("cohenKappa: hand case exact; duplicate ratings collapse to min; empty overlap is null-rated") {
    // 10 items, 8/10 agreement, balanced marginals: po=0.8, pe=0.5,
    // kappa=0.6 exactly on the micro grid
    val rows =
      (1 to 10).map(i => (i.toLong, "a", if (i <= 5) "x" else "y")) ++
        (1 to 10).map(i => (i.toLong, "b",
          if (i == 5) "y" else if (i == 10) "x" else if (i <= 5) "x" else "y"))
    val r = Preferences.cohenKappa(rows.toDF("item", "rater", "label"),
      "item", "rater", "label", "a", "b").collect().head
    assert((r.getLong(0), r.getLong(1)) === ((10L, 8L)))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) ===
      ((800000L, 500000L, 600000L)))
    // a duplicate rating by rater a collapses to the MIN label
    val dup = rows :+ ((1L, "a", "z"))
    val rd = Preferences.cohenKappa(dup.toDF("item", "rater", "label"),
      "item", "rater", "label", "a", "b").collect().head
    assert(rd.getLong(0) === 10L && rd.getLong(1) === 8L) // min("x","z")="x"
    // disjoint item sets: zero overlap, null rates, no division blowup
    val disj = Seq((1L, "a", "x"), (2L, "b", "x")).toDF("item", "rater", "label")
    val rn = Preferences.cohenKappa(disj, "item", "rater", "label", "a", "b")
      .collect().head
    assert(rn.getLong(0) === 0L && rn.isNullAt(2) && rn.isNullAt(4))
    // perfect single-label agreement: pe=1, kappa undefined -> null
    val mono = Seq((1L, "a", "x"), (1L, "b", "x"), (2L, "a", "x"), (2L, "b", "x"))
      .toDF("item", "rater", "label")
    val rm = Preferences.cohenKappa(mono, "item", "rater", "label", "a", "b")
      .collect().head
    assert(rm.getLong(2) === 1000000L && rm.getLong(3) === 1000000L && rm.isNullAt(4))
  }

  test("btStrengths: countDiv rescale preserves the ranking") {
    val big = games.union(games).union(games).union(games)
    val a = Preferences.btStrengths(big, "winner", "loser", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val b = Preferences.btStrengths(big, "winner", "loser", iterations = 3, countDiv = 4L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(Seq(1L, 2L, 3L).sortBy(a) === Seq(1L, 2L, 3L).sortBy(b))
    assert(b(1L) === 1000000L)
  }

  private def collectBt(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("btStrengthsFromPairs: cold fit over pairStats is bit-identical to the games path") {
    val fromGames = collectBt(
      Preferences.btStrengths(games, "winner", "loser", iterations = 4))
    val fromPairs = collectBt(Preferences.btStrengthsFromPairs(
      Preferences.pairStats(games, "winner", "loser"), iterations = 4))
    assert(fromPairs === fromGames,
      "pair-matrix totals must equal itemStats' for null-free, self-free games")
  }

  test("warm-start over an UNCHANGED pair matrix for k iterations == extending the cold run by k") {
    // the pageRankRefresh contract, bit-exact
    val pairs = Preferences.pairStats(games, "winner", "loser")
    val prev = Preferences.btStrengths(games, "winner", "loser", iterations = 4)
    val warm = collectBt(
      Preferences.btStrengthsFromPairs(pairs, iterations = 2, init = Some(prev)))
    val extended = collectBt(
      Preferences.btStrengths(games, "winner", "loser", iterations = 6))
    assert(warm === extended)
  }

  test("mergePairStats == pairStats over the concatenated game logs, bit-exact") {
    val wave2 = Seq((3L, 1L), (3L, 1L), (4L, 1L), (2L, 4L)).toDF("winner", "loser")
    val merged = Preferences.mergePairStats(
      Preferences.pairStats(games, "winner", "loser"),
      Preferences.pairStats(wave2, "winner", "loser"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val full = Preferences.pairStats(games.union(wave2), "winner", "loser")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(merged === full)
  }

  test("btRefresh path: warm over merged waves at 2 iterations matches the cold full refit's ranking; new items cold-start") {
    val wave2 = Seq((3L, 1L), (4L, 1L), (4L, 2L), (4L, 3L), (4L, 3L))
      .toDF("winner", "loser") // item 4 is NEW in wave 2
    val merged = Preferences.mergePairStats(
      Preferences.pairStats(games, "winner", "loser"),
      Preferences.pairStats(wave2, "winner", "loser"))
    val prev = Preferences.btStrengths(games, "winner", "loser", iterations = 4)
    val warm = Preferences.btStrengthsFromPairs(merged, iterations = 2, init = Some(prev))
    val cold = Preferences.btStrengthsFromPairs(merged, iterations = 4)
    def ranking(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(desc("strength_micro"), asc("item")).select("item").as[Long].collect().toSeq
    assert(ranking(warm) === ranking(cold),
      "2 warm iterations must reach the 4-iteration cold ranking")
    assert(warm.filter(col("item") === 4L).count() === 1L,
      "an item new in wave 2 must enter the refreshed model")
  }

  // 3-rater panel: item 1 unanimous, item 2 majority, item 3 three-way
  // split, item 4 single-rated (excluded: no pairable agreement)
  private def panel = Seq(
    (1L, "a", "x"), (1L, "b", "x"), (1L, "c", "x"),
    (2L, "a", "x"), (2L, "b", "x"), (2L, "c", "y"),
    (3L, "a", "x"), (3L, "b", "y"), (3L, "c", "z"),
    (4L, "a", "x")
  ).toDF("item", "rater", "label")

  test("fleissKappa: hand-computed micro spec on the mixed panel; degenerate worlds go null") {
    val r = Preferences.fleissKappa(panel, "item", "rater", "label").collect().head
    // kept items: 1 (P=1e6), 2 (P=2/6 -> 333333), 3 (P=0); N=3, M=9
    assert(r.getLong(0) === 3L && r.getLong(1) === 9L)
    assert(r.getLong(2) === (1000000L + 333333L + 0L) / 3L) // 444444
    // marginals over kept items: x=6, y=2, z=1 -> (36+4+1)*1e6 div 81
    assert(r.getLong(3) === 41000000L / 81L) // 506172
    val expectedKappa = ((444444L - 506172L) * 1000000L) / (1000000L - 506172L)
    assert(r.getLong(4) === expectedKappa && r.getLong(4) < 0L,
      "worse-than-chance panel must go negative, Spark-div truncation replayed")
    // perfect agreement across 2 balanced items -> kappa exactly 1e6
    val perfect = Seq((1L, "a", "x"), (1L, "b", "x"), (2L, "a", "y"), (2L, "b", "y"))
      .toDF("item", "rater", "label")
    val rp = Preferences.fleissKappa(perfect, "item", "rater", "label").collect().head
    assert(rp.getLong(4) === 1000000L)
    // single-label world: pe = 1 -> kappa null
    val mono = Seq((1L, "a", "x"), (1L, "b", "x"), (2L, "a", "x"), (2L, "b", "x"))
      .toDF("item", "rater", "label")
    assert(Preferences.fleissKappa(mono, "item", "rater", "label").collect().head.isNullAt(4))
  }

  test("btCalibration: bins partition the pair matrix; a decided duel calibrates at the top") {
    val cal = Preferences.btCalibration(games, "winner", "loser").collect()
    assert(cal.map(_.getLong(1)).sum ===
      Preferences.pairStats(games, "winner", "loser").count())
    cal.foreach { r =>
      assert(r.getLong(0) >= 0L && r.getLong(0) <= 9L)
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000000L)
    }
    // two-item world decided 8:0: one pair, one bin; realized rate is
    // exactly 1e6 and the smoothed fit predicts well above chance
    val duel = Seq.fill(8)((1L, 2L)).toDF("winner", "loser")
    val d = Preferences.btCalibration(duel, "winner", "loser").collect()
    assert(d.length === 1)
    assert(d.head.getLong(2) === 8L && d.head.getLong(4) === 1000000L)
    assert(d.head.getLong(3) > 500000L)
    intercept[IllegalArgumentException](
      Preferences.btCalibration(duel, "winner", "loser", bins = 1))
  }

  test("coverageAudit: full round-robin covers all pairs; thin histories counted") {
    val r = Preferences.coverageAudit(games, "winner", "loser", minGames = 3L)
      .collect().head
    assert(r.getLong(0) === 3L && r.getLong(1) === 3L && r.getLong(2) === 3L)
    assert(r.getLong(3) === 1000000L && r.getLong(4) === 0L)
    // every item has 8 games, so a 9-game floor flags all three
    assert(Preferences.coverageAudit(games, "winner", "loser", minGames = 9L)
      .collect().head.getLong(4) === 3L)
    // a single observed duel: 2 items, 1 of 1 possible pairs, both thin
    val duel = Seq((1L, 2L)).toDF("winner", "loser")
    val d = Preferences.coverageAudit(duel, "winner", "loser").collect().head
    assert(d.getLong(0) === 2L && d.getLong(1) === 1L && d.getLong(2) === 1L)
    assert(d.getLong(3) === 1000000L && d.getLong(4) === 2L)
  }

  test("btCalibrationError: ECE equals the recomputed games-weighted gap; duel gap = MCE") {
    val cal = Preferences.btCalibration(games, "winner", "loser").collect()
    val n = cal.map(_.getLong(2)).sum
    val gap = cal.map(r => math.abs(r.getLong(3) - r.getLong(4)) * r.getLong(2)).sum
    val e = Preferences.btCalibrationError(games, "winner", "loser").collect().head
    assert(e.getLong(0) === cal.length.toLong && e.getLong(1) === n)
    assert(e.getLong(2) === gap / n)
    assert(e.getLong(3) === cal.map(r => math.abs(r.getLong(3) - r.getLong(4))).max)
    // one-bin duel: ECE == MCE == |pred - 1e6|
    val duel = Seq.fill(8)((1L, 2L)).toDF("winner", "loser")
    val ed = Preferences.btCalibrationError(duel, "winner", "loser").collect().head
    assert(ed.getLong(0) === 1L && ed.getLong(2) === ed.getLong(3))
  }

  test("raterAgreementMatrix: per-pair co-rated counts and agreement shares") {
    val r = Seq(
      (1L, "a", "x"), (1L, "b", "x"), (1L, "c", "y"),
      (2L, "a", "x"), (2L, "b", "y")
    ).toDF("item", "rater", "label")
    val got = Preferences.raterAgreementMatrix(r, "item", "rater", "label")
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(got == Map(
      ("a", "b") -> ((2L, 1L, 500000L)),
      ("a", "c") -> ((1L, 0L, 0L)),
      ("b", "c") -> ((1L, 0L, 0L))))
  }

  test("raterAgreementMatrix: maxPanel guard raises on an oversized per-item panel") {
    // 5 raters on one item: fine at maxPanel 5, raises at 4 (the
    // guard is per-ITEM — a 4096-wide "panel" is an item-key bug)
    val r = (1 to 5).map(i => (1L, s"r$i", "x")).toDF("item", "rater", "label")
    val ok = Preferences.raterAgreementMatrix(r, "item", "rater", "label",
      maxPanel = 5)
    assert(ok.count() === 10L)
    val e = intercept[Exception](
      Preferences.raterAgreementMatrix(r, "item", "rater", "label",
        maxPanel = 4).collect())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("more than 4 raters"))
    // maxPanel = 0 disables the guard (the probe config)
    assert(Preferences.raterAgreementMatrix(r, "item", "rater", "label",
      maxPanel = 0).count() === 10L)
  }

  test("lengthBiasAudit: longer-win rate excludes ties, signed mean truncates toward zero") {
    val g = Seq((1L, 2L), (3L, 1L), (2L, 3L), (4L, 5L), (2L, 1L), (6L, 7L), (9L, 1L))
      .toDF("winner", "loser")
    val lens = Seq((1L, 10L), (2L, 5L), (3L, 10L), (4L, 7L), (5L, 7L), (6L, 8L), (7L, 10L))
      .toDF("item", "len")
    // (9,1) drops: item 9 has no length. Deltas: +5, 0, -5, 0, -5, -2
    val r = Preferences.lengthBiasAudit(g, lens, "winner", "loser", "item", "len")
      .collect().head
    assert(r.getLong(0) === 6L)      // n_games
    assert(r.getLong(1) === 2L)      // n_len_ties
    assert(r.getLong(2) === 1L)      // n_longer_wins
    assert(r.getLong(3) === 250000L) // 1e6 div 4 decided games
    assert(r.getLong(4) === -7L)     // delta_sum
    assert(r.getLong(5) === -1166666L,
      "Spark div truncates toward zero (-7e6 div 6), floor would be -1166667")
    // all-tie world: rate NULL, mean defined
    val tied = Seq((4L, 5L)).toDF("winner", "loser")
    val rt = Preferences.lengthBiasAudit(tied, lens, "winner", "loser", "item", "len")
      .collect().head
    assert(rt.isNullAt(3) && rt.getLong(5) === 0L)
  }

  test("krippendorffAlpha: hand-computed micro spec; ragged panels and degenerate worlds") {
    // the mixed panel: kept items 1-3 (ni=3, n=9); agreement mass
    // floors per item: 6e6 div 2 + 2e6 div 2 + 0 = 4e6 -> do = 5e6;
    // kept marginals x=6,y=2,z=1 -> ce = 30+2+0 = 32,
    // de = 9e6 - 32e6 div 8 = 5e6 -> alpha exactly 0
    val r = Preferences.krippendorffAlpha(panel, "item", "rater", "label").collect().head
    assert(r.getLong(0) === 3L && r.getLong(1) === 9L)
    assert(r.getLong(2) === 5000000L && r.getLong(3) === 5000000L)
    assert(r.getLong(4) === 0L)
    // RAGGED panel (the case alpha exists for): item 4 single-rated
    // drops; n=7, do = 7e6 - (2e6 + 0 + 3e6) = 2e6;
    // c_a=3, c_b=4 -> ce = 6 + 12 = 18, de = 7e6 - 18e6 div 6 = 4e6;
    // alpha = 2e6*1e6 div 4e6 = 500000
    val ragged = Seq(
      (1L, "a", "a"), (1L, "b", "a"),
      (2L, "a", "a"), (2L, "b", "b"),
      (3L, "a", "b"), (3L, "b", "b"), (3L, "c", "b"),
      (4L, "a", "a")
    ).toDF("item", "rater", "label")
    val rr = Preferences.krippendorffAlpha(ragged, "item", "rater", "label").collect().head
    assert(rr.getLong(0) === 3L && rr.getLong(1) === 7L)
    assert(rr.getLong(2) === 2000000L && rr.getLong(3) === 4000000L)
    assert(rr.getLong(4) === 500000L)
    // perfect agreement across 2 balanced items -> alpha exactly 1e6
    val perfect = Seq((1L, "a", "x"), (1L, "b", "x"), (2L, "a", "y"), (2L, "b", "y"))
      .toDF("item", "rater", "label")
    assert(Preferences.krippendorffAlpha(perfect, "item", "rater", "label")
      .collect().head.getLong(4) === 1000000L)
    // single-label world: de = 0 -> alpha null (undefined, not perfect)
    val mono = Seq((1L, "a", "x"), (1L, "b", "x"), (2L, "a", "x"), (2L, "b", "x"))
      .toDF("item", "rater", "label")
    assert(Preferences.krippendorffAlpha(mono, "item", "rater", "label")
      .collect().head.isNullAt(4))
  }

  test("consensusLabels: majority wins, ties break to MIN label, duplicate ratings collapse first") {
    val got = Preferences.consensusLabels(panel, "item", "rater", "label")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) === ((3L, "x", 3L, 1000000L)))
    assert(got(2L) === ((3L, "x", 2L, 666666L)))
    assert(got(3L) === ((3L, "x", 1L, 333333L))) // 3-way tie -> min label
    assert(got(4L) === ((1L, "x", 1L, 1000000L)))
    // a rater double-voting the same item collapses to ONE (min) label
    val dup = panel.union(Seq((2L, "c", "z"), (2L, "c", "a")).toDF("item", "rater", "label"))
    val gd = Preferences.consensusLabels(dup, "item", "rater", "label")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(gd(2L) === ((3L, "x")), "rater c's duplicate votes collapse to min('a','y','z')='a', x still wins 2:1")
  }

  test("raterConsensusAgreement: the planted noisy rater ranks last") {
    val got = Preferences.raterConsensusAgreement(panel, "item", "rater", "label")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // consensus: 1->x, 2->x, 3->x (tie->min), 4->x
    assert(got("a") === ((4L, 4L, 1000000L)))
    assert(got("b") === ((3L, 2L, 666666L)))
    assert(got("c") === ((3L, 1L, 333333L))) // the noise rater
  }

  test("kappaDrift: per-wave kappa replays cohenKappa; deltas chain over sortable waves; first wave null") {
    // wave 1: b agrees on 3 of 4; wave 2: b agrees on 1 of 4 (degrading);
    // wave 3 replays wave 1 (recovering) — labels balanced x/y per wave
    def wave(w: Long, flips: Seq[Int]) = (0 until 4).map { i =>
      val lab = if (i % 2 == 0) "x" else "y"
      val blab = if (flips.contains(i)) (if (lab == "x") "y" else "x") else lab
      Seq((w, i.toLong, "a", lab), (w, i.toLong, "b", blab))
    }.flatten
    val df = (wave(1L, Seq(3)) ++ wave(2L, Seq(0, 1, 3)) ++ wave(3L, Seq(3)))
      .toDF("wave", "item", "rater", "label")
    val got = Preferences.kappaDrift(df, "item", "rater", "label", "a", "b", "wave")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(5), Option(r.get(6)).map(_.asInstanceOf[Long]),
          Option(r.get(7)).map(_.asInstanceOf[Long])))).toMap
    // per-wave kappa must equal the single-wave cohenKappa on that slice
    val k1 = Preferences.cohenKappa(
      wave(1L, Seq(3)).toDF("wave", "item", "rater", "label"),
      "item", "rater", "label", "a", "b").collect().head.getLong(4)
    assert(got(1L)._1 === k1)
    assert(got(1L)._2 === None && got(1L)._3 === None, "first wave has no predecessor")
    assert(got(2L)._2 === Some(got(1L)._1))
    assert(got(2L)._3 === Some(got(2L)._1 - got(1L)._1))
    assert(got(2L)._3.get < 0L, "the degrading wave must show a negative delta")
    assert(got(3L)._2 === Some(got(2L)._1))
    assert(got(3L)._3.get > 0L, "the recovering wave must show a positive delta")
  }
}
