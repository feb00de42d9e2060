package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class StatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("histogram bins, edge clamping, null drop") {
    val df = Seq(Some(-5.0), Some(0.0), Some(5.0), Some(9.99), Some(10.0), Some(25.0), None)
      .toDF("x")
    val out = Stats.histogram(df, "x", 0.0, 20.0, 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // bins of width 5 over [0,20): -5→clamp 0, 0→0, 5→1, 9.99→1, 10→2, 25→clamp 3
    assert(out == Map(0 -> 2L, 1 -> 2L, 2 -> 1L, 3 -> 1L))
  }

  test("chi2 on an independent 2x2 is zero") {
    // perfectly independent: all cells equal
    val rows = for (r <- Seq("a", "b"); c <- Seq("x", "y"); _ <- 1 to 10) yield (r, c)
    val out = Stats.chiSquare(rows.toDF("r", "c"), "r", "c")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("chi2_micro") == 0L)
    assert(out("dof") == 1L)
    assert(out("n") == 40L)
  }

  test("chi2 fails loudly on a non-contingency-shaped (high-cardinality) column pair") {
    // an id column passed as a category: > MaxCells distinct cells must
    // raise, not OOM the driver (the collect is limit-capped)
    val wide = spark.range(Crosstab.MaxCells + 1L)
      .selectExpr("cast(id as string) as r", "cast(id as string) as c")
    val err = intercept[IllegalArgumentException](Stats.chiSquare(wide, "r", "c"))
    assert(err.getMessage.contains("cellGrid"))
  }

  test("chi2 detects full dependence (2x2, phi=1 => chi2=n)") {
    val rows = (1 to 10).flatMap(_ => Seq(("a", "x"), ("b", "y")))
    val out = Stats.chiSquare(rows.toDF("r", "c"), "r", "c")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("chi2_micro") == 20L * 1000000L) // chi2 == n for a perfect 2x2
    assert(out("dof") == 1L)
  }

  test("weighted median: inverted CDF with integer weights") {
    val df = Seq(("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 5.0), ("g", 4.0, 1.0))
      .toDF("g", "v", "w")
    // total weight 8, threshold 4: cum at v=3 is 7 >= 4 → median 3
    val out = Stats.weightedQuantile(df, "v", "w", Seq("g"), 0.5).collect()
    assert(out.length == 1 && out(0).getDouble(1) == 3.0)
  }

  test("weightedQuantileAuto: sketch route == exact on sub-capacity integral groups") {
    val rnd = new scala.util.Random(99)
    val rows = (0 until 400).map { i =>
      (s"g${i % 3}", (rnd.nextInt(40) + 1).toDouble, (rnd.nextInt(5) + 1).toDouble)
    }
    val df = rows.toDF("g", "v", "w")
    for (q <- Seq(0.1, 0.5, 0.9, 1.0)) {
      val auto = Stats.weightedQuantileAuto(df, "v", "w", Seq("g"), q)
      val exact = Stats.weightedQuantile(df, "v", "w", Seq("g"), q)
      // probe-eligible (40 distinct integral values) → must be the
      // sketch plan: no window, the aggregate carries the sketch
      val plan = auto.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"auto took the window route:\n$plan")
      assert(plan.contains("weighted_quantile_sketch"),
        s"sketch aggregate missing from plan:\n$plan")
      val a = auto.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val e = exact.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(a == e, s"q=$q: $a vs $e")
    }
  }

  test("weightedQuantileAuto: fractional values and over-capacity groups route to exact") {
    val frac = Seq(("g", 1.5, 1.0), ("g", 2.5, 1.0), ("g", 3.5, 1.0)).toDF("g", "v", "w")
    val fracPlan = Stats.weightedQuantileAuto(frac, "v", "w", Seq("g"), 0.5)
    assert(fracPlan.queryExecution.executedPlan.toString.contains("Window"))
    assert(fracPlan.collect().head.getDouble(1) == 2.5)

    // distinct count above 0.8*capacity: capacity=16 → gate at 12
    val wide = (1 to 100).map(i => ("g", i.toDouble, 1.0)).toDF("g", "v", "w")
    val widePlan = Stats.weightedQuantileAuto(wide, "v", "w", Seq("g"), 0.5, capacity = 16)
    assert(widePlan.queryExecution.executedPlan.toString.contains("Window"))
    assert(widePlan.collect().head.getDouble(1) == 50.0)

    // fractional WEIGHTS with integral values: the sketch would
    // truncate w to long (every 0.5 → 0, returning the group minimum);
    // the probe must route to exact
    val fracW = (1 to 10).map(i => ("g", i.toDouble, 0.5)).toDF("g", "v", "w")
    val fwPlan = Stats.weightedQuantileAuto(fracW, "v", "w", Seq("g"), 0.5)
    assert(fwPlan.queryExecution.executedPlan.toString.contains("Window"),
      "fractional weights must take the exact route")
    assert(fwPlan.collect().head.getDouble(1) == 5.0)

    // per-group weight SUM would wrap a long in the sketch (three 4e18
    // weights are each individually in range): must route to exact
    val bigW = Seq(("g", 1.0, 3.9e18), ("g", 2.0, 3.9e18), ("g", 3.0, 3.9e18))
      .toDF("g", "v", "w")
    val bwPlan = Stats.weightedQuantileAuto(bigW, "v", "w", Seq("g"), 0.5)
    assert(bwPlan.queryExecution.executedPlan.toString.contains("Window"),
      "overflow-range weight sums must take the exact route")
    assert(bwPlan.collect().head.getDouble(1) == 2.0)

    // negative weights change even which groups emit rows: exact route,
    // and the row SET matches weightedQuantile (here: no row at all)
    val negW = Seq(("g", 7.0, -2.0)).toDF("g", "v", "w")
    val nwOut = Stats.weightedQuantileAuto(negW, "v", "w", Seq("g"), 0.5)
    assert(nwOut.collect().toSeq ==
      Stats.weightedQuantile(negW, "v", "w", Seq("g"), 0.5).collect().toSeq)

    // degenerate inputs must not throw and must match the exact pass
    // (global-group empty input yields ONE [null] row — a global agg
    // over empty input — in BOTH routes)
    val empty = Seq.empty[(String, Double, Double)].toDF("g", "v", "w")
    assert(Stats.weightedQuantileAuto(empty, "v", "w", Seq.empty, 0.5).collect().toSeq ==
      Stats.weightedQuantile(empty, "v", "w", Seq.empty, 0.5).collect().toSeq)
    assert(Stats.weightedQuantileAuto(empty, "v", "w", Seq("g"), 0.5).collect().isEmpty)
  }

  test("proportion CI: equal weights give neff = n and textbook MoE") {
    val df = (1 to 50).map(i => if (i <= 20) "a" else "b").toDF("c")
    val out = Stats.proportionCI(df, "c")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    val (pa, neff, moe) = out("a")
    assert(pa == 0.4 && neff == 50.0)
    val expected = math.floor(1.96 * math.sqrt(0.4 * 0.6 / 50.0) * 1e6 + 0.5).toLong
    assert(moe == expected)
  }

  test("column-proportion z-test: strong contrast significant, identical shares not") {
    // col x: 30 of 40 in row 'hi'; col y: 10 of 40 → clearly significant.
    val strong = (1 to 30).map(_ => ("hi", "x")) ++ (1 to 10).map(_ => ("lo", "x")) ++
      (1 to 10).map(_ => ("hi", "y")) ++ (1 to 30).map(_ => ("lo", "y"))
    val out1 = Stats.columnProportionZTest(strong.toDF("r", "c"), "r", "c")
      .collect().map(ro => (ro.getString(0), ro.getString(1), ro.getString(2)) -> ro.getBoolean(4)).toMap
    assert(out1(("hi", "x", "y")) && out1(("lo", "x", "y")))
    // identical distributions → z = 0, not significant
    val same = (1 to 20).flatMap(_ => Seq(("hi", "x"), ("hi", "y"), ("lo", "x"), ("lo", "y")))
    val out2 = Stats.columnProportionZTest(same.toDF("r", "c"), "r", "c")
      .collect().map(ro => Option(ro.get(3)) -> ro.getBoolean(4))
    assert(out2.forall { case (z, sig) => z.contains(0L) && !sig })
  }

  test("approxDistinctGate: verdict true within tolerance, exact count carried, stable under repartition") {
    val df = (0 until 6000).map(i => (s"g${i % 2}", (i / 2) % (700 + (i % 2) * 300)))
      .toDF("g", "v")
    val got = Stats.approxDistinctGate(df, "v", Seq("g"), rsd = 0.02, relTol = 0.05)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(got("g0") == ((700L, true)) && got("g1") == ((1000L, true)))
    val again = Stats.approxDistinctGate(df.repartition(11), "v", Seq("g"),
      rsd = 0.02, relTol = 0.05)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(again == got)
  }

  test("neymanAllocation: n_h*S_h proportional split, zero-variance stratum gets none") {
    // stratum a: values {0, 20} x 50 rows -> sd 10, nh 100, wh 1000
    // stratum b: constant 5 -> sd 0, wh 0
    // stratum c: values {0, 10} x 25 rows -> sd 5, nh 50, wh 250
    val df = ((1 to 50).flatMap(_ => Seq(("a", 0.0), ("a", 20.0))) ++
      (1 to 30).map(_ => ("b", 5.0)) ++
      (1 to 25).flatMap(_ => Seq(("c", 0.0), ("c", 10.0))))
      .toDF("s", "v")
    val got = Stats.neymanAllocation(df, "v", "s", budget = 1000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got("a") == ((100L, 0.8, 800L)))
    assert(got("b") == ((30L, 0.0, 0L)))
    assert(got("c") == ((50L, 0.2, 200L)))
  }

  test("benfordAudit: digit from the BIGINT string; zeros/nulls out, absent digits report") {
    // digits: 1 x3 (one negative -> abs), 2 x1, 3 x1, 9 x1; 0 and null excluded
    val df = Seq(Some(1.0), Some(12.0), Some(-150.0), Some(2.0), Some(3.0),
      Some(9.0), Some(0.0), None).toDF("v")
    val rows = Stats.benfordAudit(df, "v").collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(rows.size == 9 && rows.values.map(_._1).sum == 6L)
    // digit 1: 3/6 = 0.5 observed vs 0.30103 Benford
    assert(rows(1) == ((3L, 0.5, 0.30103, 0.19897)))
    // absent digit: zero share, the gap IS the expected share
    assert(rows(5)._1 == 0L && rows(5)._2 == 0.0 && rows(5)._4 == rows(5)._3)
    val again = Stats.benfordAudit(df.repartition(5), "v").collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(again == rows)
  }

  test("momentsByGroup: known shapes — one-sided tail, uniform, constant") {
    // group a: {0,0,0,10} -> skew 2/sqrt(3) = 1.154701, kurt 7/3 - 3
    // group b: constant -> m2 = 0 guard, both report 0.0
    // group c: {1,2,3} uniform -> skew exactly 0, kurt -1.5
    val df = (Seq(("a", 0.0), ("a", 0.0), ("a", 0.0), ("a", 10.0)) ++
      Seq(("b", 5.0), ("b", 5.0), ("b", 5.0)) ++
      Seq(("c", 1.0), ("c", 2.0), ("c", 3.0))).toDF("g", "v")
    val got = Stats.momentsByGroup(df, "v", Seq("g"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got("a") == ((4L, 2.5, 1.154701, -0.666667)))
    assert(got("b") == ((3L, 5.0, 0.0, 0.0)))
    assert(got("c") == ((3L, 2.0, 0.0, -1.5)))
    // exact BIGINT power sums: partitioning can't move any output
    val again = Stats.momentsByGroup(df.repartition(5), "v", Seq("g"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(again == got)
  }

  test("psiSummary: identical slices score 0, shifted slices drift, terms exact micro") {
    val same = ((1 to 100).map(v => ("a", v)) ++ (1 to 100).map(v => ("b", v)))
      .toDF("s", "v")
    val r0 = Stats.psiSummary(same, "v", "s", "a", "b", 0.0, 100.0, 10).head
    assert(r0.getDouble(3) == 0.0 && !r0.getBoolean(4))
    // b shifted far right: most mass changes bands -> large PSI
    val shifted = ((1 to 100).map(v => ("a", v)) ++ (1 to 100).map(v => ("b", v + 60)))
      .toDF("s", "v")
    val r1 = Stats.psiSummary(shifted, "v", "s", "a", "b", 0.0, 100.0, 10).head
    assert(r1.getDouble(3) > 0.25 && r1.getBoolean(4))
    // stable under repartition (integer band counts + micro-floored terms)
    val again = Stats.psiSummary(shifted.repartition(7), "v", "s", "a", "b",
      0.0, 100.0, 10).head
    assert(again.getDouble(3) == r1.getDouble(3))
  }

  test("ksDrift: identical slices D=0; disjoint slices D=1; hand case exact") {
    val same = ((1 to 20).map(v => ("a", v)) ++ (1 to 20).map(v => ("b", v)))
      .toDF("s", "v")
    val r0 = Stats.ksDrift(same, "v", "s", "a", "b").head
    assert((r0.getLong(0), r0.getLong(1), r0.getDouble(2), r0.getBoolean(3)) ==
      ((20L, 20L, 0.0, false)))
    val disjoint = ((1 to 10).map(v => ("a", v)) ++ (11 to 20).map(v => ("b", v)))
      .toDF("s", "v")
    val r1 = Stats.ksDrift(disjoint, "v", "s", "a", "b").head
    assert(r1.getDouble(2) == 1.0 && r1.getBoolean(3))
    // hand case: A={1,2,3,4}, B={3,4,5,6} -> D at v=2: |2*4 - 0*4|/16 = 0.5
    val hand = (Seq(1, 2, 3, 4).map(("a", _)) ++ Seq(3, 4, 5, 6).map(("b", _)))
      .toDF("s", "v")
    val r2 = Stats.ksDrift(hand, "v", "s", "a", "b").head
    assert(r2.getDouble(2) == 0.5)
    // stable under repartition (integer lattice)
    val again = Stats.ksDrift(hand.repartition(5), "v", "s", "a", "b").head
    assert(again.getDouble(2) == 0.5 && again.getBoolean(3) == r2.getBoolean(3))
  }

  test("winsorizedMean: tails clamp to the exact quantile bounds, ties stay together") {
    // group a: 1..10 -> p10 bound = 1 (cum 1 >= 1), p90 bound = 9;
    // clamped sum = 1 + 2..9 + 9 = 54 -> mean 5.4
    val a = (1 to 10).map(v => ("a", v.toDouble))
    // group b: heavy outlier; 9 ones and one 1000 -> hi bound is 1
    // (cum 9 >= 9) ... all clamp to 1
    val b = Seq.fill(9)(("b", 1.0)) :+ (("b", 1000.0))
    val got = Stats.winsorizedMean((a ++ b).toDF("g", "v"), "v", Seq("g"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got("a") == ((10L, 1.0, 9.0, 5.4)))
    assert(got("b") == ((10L, 1.0, 1.0, 1.0))) // outlier fully absorbed
    // stable under repartition (exact integer-valued arithmetic)
    val again = Stats.winsorizedMean((a ++ b).toDF("g", "v").repartition(7),
        "v", Seq("g"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(again == got)
  }

  test("countMinGate: estimates bounded for heavy keys, probe set ranked, nulls skipped") {
    // skewed multiset: key k appears (50 - k) times, plus null rows
    val rows = (0 until 50).flatMap(k => Seq.fill(50 - k)(Option(k.toLong))) ++
      Seq.fill(100)(Option.empty[Long])
    val df = rows.toDF("k")
    val got = Stats.countMinGate(df, "k", eps = 0.01, confidence = 0.99,
        seed = 7, probeKeys = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    // top-5 by (count desc, key asc): keys 0..4 with counts 50..46
    assert(got.toSeq == (0 until 5).map(k => (k.toLong, (50 - k).toLong, true)))
    // deterministic under repartition (additive integer sketch)
    val again = Stats.countMinGate(df.repartition(9), "k", eps = 0.01,
        confidence = 0.99, seed = 7, probeKeys = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(again.toSeq == got.toSeq)
  }

  test("approxPercentileGate: rank-guarantee verdict true for large, tiny, and gappy groups") {
    val df = (0 until 20000).map(i => (s"g${i % 2}", (i * 7919 % 20000).toDouble))
      .toDF("g", "v")
    val got = Stats.approxPercentileGate(df, "v", Seq("g"), q = 0.5, accuracy = 1000)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(4))).toMap
    assert(got("g0") == ((10000L, true)) && got("g1") == ((10000L, true)))
    val again = Stats.approxPercentileGate(df.repartition(13), "v", Seq("g"),
      q = 0.5, accuracy = 1000)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(4))).toMap
    assert(again == got)
    // the case a value-interpolated bound fails spuriously: n=2 with a
    // wide gap — the sketch's answer is rank-perfect and must pass
    val tiny = Seq(("t", 0.0), ("t", 100.0), ("z", 5.0)).toDF("g", "v")
    val tg = Stats.approxPercentileGate(tiny, "v", Seq("g"), q = 0.5, accuracy = 1000)
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(tg == Map("t" -> true, "z" -> true))
    // caller columns named like the gate's outputs must not collide
    val clash = Seq(("t", 1.0, 7L), ("t", 2.0, 7L)).toDF("g", "v", "n")
    val cg = Stats.approxPercentileGate(clash, "v", Seq("g"), q = 0.5, accuracy = 1000)
      .collect()
    assert(cg.length == 1 && cg(0).getBoolean(4))
  }

  test("weighted quantile q=1 returns the max") {
    val df = Seq(("g", 1.0, 2.0), ("g", 9.0, 1.0)).toDF("g", "v", "w")
    val out = Stats.weightedQuantile(df, "v", "w", Seq("g"), 1.0).collect()
    assert(out(0).getDouble(1) == 9.0)
  }

  test("profile numericTopK: exact-mode p50 + top values per column, strings opt out") {
    // 9 rows: k is 1..9 (p50 = lower median = 5), v has a planted mode
    val df = Seq(
      (1L, 7L, "x"), (2L, 7L, "y"), (3L, 7L, null.asInstanceOf[String]),
      (4L, 2L, "x"), (5L, 2L, "y"), (6L, 9L, "x"),
      (7L, 1L, "x"), (8L, 4L, "y"), (9L, 5L, "x")).toDF("k", "v", "s")
    val got = Stats.profile(df, Seq("k", "v", "s"), numericTopK = 2, sketchCapacity = 64)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("k").getLong(4) == 5L)     // p50 of 1..9
    assert(got("v").getLong(4) == 5L)     // lower median of sorted v
    assert(got("s").isNullAt(4))          // non-integral column: null p50
    def top(c: String) = got(c).getSeq[org.apache.spark.sql.Row](5)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(top("v") == Seq((7L, 3L), (2L, 2L))) // count desc, value asc
    assert(top("k") == Seq((1L, 1L), (2L, 1L))) // all-ones tie: value asc
    assert(top("s").isEmpty)              // empty, not null — explodes away
    // base columns unchanged by the extension
    assert((got("s").getLong(1), got("s").getLong(2), got("s").getLong(3)) == ((9L, 1L, 2L)))
  }

  test("profileDiff: planted null-rate jump and row drop surface per column") {
    val a = Seq((1L, "x"), (2L, "y"), (3L, "x"), (4L, null.asInstanceOf[String]))
      .toDF("k", "seg")
    val b = Seq((1L, null.asInstanceOf[String]), (2L, "y")).toDF("k", "seg")
    val got = Stats.profileDiff(a, b, Seq("seg")).collect()(0)
    assert(got.getString(0) == "seg")
    assert((got.getLong(1), got.getLong(2), got.getLong(3)) == ((4L, 1L, 2L)))
    assert((got.getLong(4), got.getLong(5), got.getLong(6)) == ((2L, 1L, 1L)))
    assert(got.getDouble(7) == 0.25) // 1/2 - 1/4
  }

  test("corrMatrix: exact Pearson signs, null r on constant column, shared n") {
    val df = Seq(
      (1L, 2L, 5L, 10L),
      (2L, 4L, 5L, 8L),
      (3L, 6L, 5L, 6L),
      (4L, 8L, 5L, 4L)).toDF("x", "y", "c", "z")
    val got = Stats.corrMatrix(df, Seq("x", "y", "c", "z")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    assert(got.size == 6) // all unordered pairs
    assert(got(("x", "y"))._2 == 1.0)  // y = 2x
    assert(got(("x", "z"))._2 == -1.0) // z = 12 - 2x
    assert(got(("x", "c"))._2.isNaN)   // zero variance → null
    assert(got.values.forall(_._1 == 4L))
  }

  test("corrMatrix: complete-case filter and fractional-column rejection") {
    val df = Seq(
      (Some(1L), Some(2L)), (Some(2L), Some(4L)), (Some(3L), None)
    ).toDF("x", "y")
    val row = Stats.corrMatrix(df, Seq("x", "y")).collect()(0)
    assert(row.getLong(2) == 2L) // null row excluded from n
    val frac = Seq((1.5, 2L)).toDF("a", "b")
    val e = intercept[IllegalArgumentException](Stats.corrMatrix(frac, Seq("a", "b")))
    assert(e.getMessage.contains("integral"))
  }

  test("robustOutlierAudit: exact medians/MAD, degenerate MAD=0, type guard") {
    val df = (Seq(1L, 2L, 3L, 4L, 100L).map(("a", _)) ++
      Seq(5L, 5L, 5L, 9L).map(("b", _))).toDF("src", "v")
    val got = Stats.robustOutlierAudit(df, "src", "v", k = 3L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // a: median 3, devs {0,1,1,2,97} -> MAD 1, fence 3 -> only 97 flags
    assert(got("a") == ((5L, 3L, 1L, 1L, 97L)))
    // b: constant-majority -> MAD 0: every unequal value is an outlier
    assert(got("b") == ((4L, 5L, 0L, 1L, 4L)))
    val bad = Seq(("a", "x")).toDF("src", "v")
    intercept[IllegalArgumentException] {
      Stats.robustOutlierAudit(bad, "src", "v")
    }
  }

  test("groupTrend: exact integer slope/intercept, r2=1 on a perfect line, degenerate NULLs") {
    val df = (Seq((0L, 10L), (1L, 13L), (2L, 16L), (3L, 19L)).map { case (x, y) => ("up", x, y) } ++
      Seq((0L, 9L), (1L, 7L), (2L, 5L)).map { case (x, y) => ("down", x, y) } ++
      Seq((5L, 4L), (5L, 8L)).map { case (x, y) => ("flatx", x, y) } ++
      Seq((1L, 6L), (2L, 6L)).map { case (x, y) => ("flaty", x, y) })
      .toDF("g", "x", "y")
    val got = Stats.groupTrend(df, "g", "x", "y").collect()
      .map(r => r.getString(0) -> r).toMap
    // up: slope 3, intercept 10, perfect fit
    assert(got("up").getLong(2) === 3000000L && got("up").getLong(3) === 10000000L)
    assert(got("up").getDouble(4) === 1.0)
    // down: slope -2 EXACT (negative division must truncate identically)
    assert(got("down").getLong(2) === -2000000L && got("down").getLong(3) === 9000000L)
    // constant x: no slope
    assert(got("flatx").isNullAt(2) && got("flatx").isNullAt(4))
    // constant y: slope 0, r2 NULL (ytot = 0)
    assert(got("flaty").getLong(2) === 0L && got("flaty").isNullAt(4))
    intercept[IllegalArgumentException] {
      Stats.groupTrend(Seq(("a", 1.5, 2L)).toDF("g", "x", "y"), "g", "x", "y")
    }
  }

  test("rankNormalize: average-rank percentiles with ties, per slice, exact integers") {
    val df = (Seq(10L, 20L, 20L, 30L).map(("a", _)) ++
      Seq(7L).map(("b", _)) ++
      Seq(1L, 2L).map(("c", _))).toDF("slice", "v")
    val got = Stats.rankNormalize(df, "slice", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // slice a, n=4: v=10 rank 1 -> 0; v=20 ranks 2,3 avg 2.5 -> (2.5-1)/3 = .5
    // v=30 rank 4 -> 1.0
    assert(got(("a", 10L)) === ((1L, 0L)))
    assert(got(("a", 20L)) === ((2L, 500000L)))
    assert(got(("a", 30L)) === ((1L, 1000000L)))
    // single-row slice: midpoint by convention
    assert(got(("b", 7L)) === ((1L, 500000L)))
    // two singleton values: endpoints
    assert(got(("c", 1L)) === ((1L, 0L)) && got(("c", 2L)) === ((1L, 1000000L)))
  }

  test("equiDepthHistogram: near-equal bin masses, tie groups never split, heavy tail resolved") {
    // 100 rows, values 1..100 in one slice: 4 bins of exactly 25 rows
    val df = (1 to 100).map(v => ("a", v.toLong)).toDF("slice", "v")
    val got = Stats.equiDepthHistogram(df, "slice", "v", nbins = 4)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet === Set(0L, 1L, 2L, 3L))
    assert(got.values.map(_._1).toSeq === Seq.fill(4)(25L))
    assert(got(0L)._2 === 1L && got(3L)._3 === 100L)
    // a dominant tie group lands whole in one bin
    val ties = (Seq.fill(90)(5L) ++ Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L, 10L, 11L))
      .map(("b", _)).toDF("slice", "v")
    val gt = Stats.equiDepthHistogram(ties, "slice", "v", nbins = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    val five = gt.filter(t => t._3 <= 5 && t._4 >= 5)
    assert(five.size === 1 && five.head._2 >= 90L,
      s"the 90-row tie group must sit whole in one bin: ${gt.toSeq}")
  }

  test("summary-window guards raise loudly past the distinct-value cap") {
    // a continuous-ish column: 200 distinct doubles in one group/slice —
    // the exact caller mistake the documented contracts used to permit
    val wide = spark.range(200).selectExpr(
      "'g' AS g", "cast(id AS double) AS v", "1.0 AS w",
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS s")
    def raised(body: => Unit): String = {
      val ex = intercept[Exception](body)
      Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    }
    assert(raised(Stats.ksDrift(wide, "v", "s", "a", "b",
      maxDistinctValues = 50).collect()).contains("band the column"))
    assert(raised(Stats.weightedQuantile(wide, "v", "w", Seq("g"), 0.5,
      maxDistinctPerGroup = 50).collect()).contains("weightedQuantileSketch"))
    assert(raised(Stats.winsorizedMean(wide, "v", Seq("g"),
      maxDistinctPerGroup = 50).collect()).contains("band the column"))
    // under the cap, results are untouched by the guard machinery
    val r = Stats.ksDrift(wide, "v", "s", "a", "b").head
    assert(r.getAs[Long]("n_a") === 100L && r.getAs[Long]("n_b") === 100L)
  }

  test("rocAuc: tie-corrected rank-sum matches the pairwise definition") {
    // hand-checked: pos scores {3, 5}, neg {1, 3} -> pairs
    // (3>1)+(3=3)/2+(5>1)+(5>3) = 3.5 of 4 = 0.875
    val df = Seq(
      ("a", true, 3L), ("a", true, 5L), ("a", false, 1L), ("a", false, 3L),
      // b: perfect separation -> 1.0
      ("b", true, 10L), ("b", true, 9L), ("b", false, 2L),
      // c: anti-separation -> 0.0
      ("c", true, 1L), ("c", false, 5L),
      // d: all scores tied -> 0.5
      ("d", true, 7L), ("d", false, 7L), ("d", false, 7L),
      // e: single-class -> NULL auc in-band
      ("e", true, 1L), ("e", true, 2L)
    ).toDF("slice", "label", "score")
    val got = Stats.rocAuc(df, "slice", "label", "score")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(got("a") === ((2L, 2L, Some(0.875))))
    assert(got("b") === ((2L, 1L, Some(1.0))))
    assert(got("c") === ((1L, 1L, Some(0.0))))
    assert(got("d") === ((1L, 2L, Some(0.5))))
    assert(got("e") === ((2L, 0L, None)))
  }

  test("rocAuc: NULL label/score/slice rows are dropped, not misread") {
    val df = Seq(
      (Some("a"), Some(true), Some(5L)), (Some("a"), Some(false), Some(1L)),
      (Some("a"), None, Some(9L)), (Some("a"), Some(true), None),
      (None, Some(true), Some(9L))
    ).toDF("slice", "label", "score")
    val got = Stats.rocAuc(df, "slice", "label", "score").collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("n_pos") == 1L && got.head.getAs[Long]("n_neg") == 1L)
    assert(got.head.getAs[Double]("auc") == 1.0)
  }

  test("prAtThresholds: counts, micro ratios, and NULL denominators per operating point") {
    val df = Seq(
      ("a", true, 5L), ("a", true, 3L), ("a", false, 4L), ("a", false, 1L),
      ("b", false, 9L) // no positives: recall/f1 NULL at every threshold
    ).toDF("slice", "label", "score")
    val got = Stats.prAtThresholds(df, "slice", "label", "score", Seq(2L, 4L, 100L))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6),
          Option(r.get(7)).map(_.asInstanceOf[Long]),
          Option(r.get(8)).map(_.asInstanceOf[Long]),
          Option(r.get(9)).map(_.asInstanceOf[Long])))).toMap
    // a @ 2: tp=2 fp=1 fn=0 -> P=666666 R=1000000 F1=2*P*R/(P+R)
    assert(got(("a", 2L)) === ((2L, 1L, 0L,
      Some(666666L), Some(1000000L), Some((2L * 666666L * 1000000L) / (666666L + 1000000L)))))
    // a @ 4: tp=1 fp=1 fn=1 -> P=500000 R=500000 F1=500000
    assert(got(("a", 4L)) === ((1L, 1L, 1L, Some(500000L), Some(500000L), Some(500000L))))
    // a @ 100: nothing predicted positive -> precision NULL, recall 0
    assert(got(("a", 100L)) === ((0L, 0L, 2L, None, Some(0L), None)))
    // b: no positives at all -> recall/f1 NULL, precision 0 where fp>0
    assert(got(("b", 2L)) === ((0L, 1L, 0L, Some(0L), None, None)))
    assert(got(("b", 100L)) === ((0L, 0L, 0L, None, None, None)))
  }

  test("chiSquareIndependence: hand-checked 2x2, independence zero, zero-cell mass counted") {
    // 30/10 vs 10/30: e = 20 everywhere, chi2 = 4 * 100/20 = 20, V = sqrt(20/80) = 0.5
    val assoc = (Seq.fill(30)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(10)(("y", "p")) ++ Seq.fill(30)(("y", "q"))).toDF("a", "b")
    val r1 = Stats.chiSquareIndependence(assoc, "a", "b").head()
    assert(r1.getAs[Long]("n") == 80L && r1.getAs[Long]("dof") == 1L)
    assert(r1.getAs[Long]("chi2_micro") == 20000000L)
    assert(r1.getAs[Double]("cramers_v") == 0.5)
    // proportional table: chi2 exactly 0
    val indep = (Seq.fill(20)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(40)(("y", "p")) ++ Seq.fill(20)(("y", "q"))).toDF("a", "b")
    assert(Stats.chiSquareIndependence(indep, "a", "b")
      .head().getAs[Long]("chi2_micro") == 0L)
    // diagonal table: the DENSE lattice must charge the zero-observed
    // cells their expected mass — perfect association, V = 1
    val diag = (Seq.fill(5)(("x", "p")) ++ Seq.fill(5)(("y", "q"))).toDF("a", "b")
    val r3 = Stats.chiSquareIndependence(diag, "a", "b").head()
    assert(r3.getAs[Long]("chi2_micro") == 10000000L)
    assert(r3.getAs[Double]("cramers_v") == 1.0)
  }

  test("chiSquareResiduals: the 2x2 hand case — symmetric Haberman residuals, e counted on zero cells") {
    val assoc = (Seq.fill(30)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(10)(("y", "p")) ++ Seq.fill(30)(("y", "q"))).toDF("a", "b")
    val got = Stats.chiSquareResiduals(assoc, "a", "b")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // e = 20 in every cell; residual = ±10/sqrt(20·0.5·0.5) = ±4.472136
    assert(got(("x", "p")) === ((30L, 20.0, 4.472136)))
    assert(got(("x", "q")) === ((10L, 20.0, -4.472136)))
    assert(got(("y", "p")) === ((10L, 20.0, -4.472136)))
    assert(got(("y", "q")) === ((30L, 20.0, 4.472136)))
    // a zero-observed cell still appears with its expected mass
    val diag = (Seq.fill(5)(("x", "p")) ++ Seq.fill(5)(("y", "q"))).toDF("a", "b")
    val z = Stats.chiSquareResiduals(diag, "a", "b")
      .filter(org.apache.spark.sql.functions.col("o") === 0L).collect()
    assert(z.length == 2 && z.forall(_.getDouble(3) == 2.5))
  }

  test("mcnemarTest: discordant pairs carry the statistic; no-discordance is NULL") {
    val df = (Seq.fill(3)((true, true)) ++ Seq.fill(2)((true, false)) ++
      Seq.fill(5)((false, true)) ++ Seq.fill(4)((false, false))).toDF("a", "b")
    val r = Stats.mcnemarTest(df, "a", "b").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((14L, 4L, 5L, 2L, 3L)))
    assert(r.getAs[Long]("agree_micro") == 500000L)
    assert(r.getAs[Double]("mcnemar") == 1.285714) // (5-2)^2/7 halfUp 6
    val agree = Seq((true, true), (false, false)).toDF("a", "b")
    val r2 = Stats.mcnemarTest(agree, "a", "b").head()
    assert(r2.isNullAt(r2.fieldIndex("mcnemar")))
    assert(r2.getAs[Long]("agree_micro") == 1000000L)
  }

  test("chiSquareIndependence: single-level side emits dof 0 and NULL V in-band") {
    val df = Seq(("x", "p"), ("x", "q"), ("x", "p")).toDF("a", "b")
    val r = Stats.chiSquareIndependence(df, "a", "b").head()
    assert(r.getAs[Long]("n_a") == 1L && r.getAs[Long]("dof") == 0L)
    assert(r.isNullAt(r.fieldIndex("cramers_v")))
    assert(r.getAs[Long]("chi2_micro") == 0L)
  }

  test("chiSquareIndependence: empty input emits NULL dof, not (0-1)*(0-1)=1") {
    val df = Seq((null: String, "p"), ("x", null: String))
      .toDF("a", "b") // every row drops in the null filter
    val r = Stats.chiSquareIndependence(df, "a", "b").head()
    assert(r.getAs[Long]("n_a") == 0L && r.getAs[Long]("n_b") == 0L)
    assert(r.isNullAt(r.fieldIndex("dof")))
  }

  test("quantileNormalize: slices map onto the pooled scale; self-normalization is identity") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 10L), ("b", 20L), ("b", 30L)).toDF("s", "v")
    val got = Stats.quantileNormalize(df, "s", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(4)).toMap
    // pooled lattice {1,2,3,10,20,30}: both slices land on the same
    // pooled values at the same percentiles — the harmonization point
    assert(got(("a", 1L)) == 1L && got(("b", 10L)) == 1L)
    assert(got(("a", 2L)) == 3L && got(("b", 20L)) == 3L)
    assert(got(("a", 3L)) == 30L && got(("b", 30L)) == 30L)
    // one distinct-valued slice against itself: the identity map
    val solo = Seq(("a", 5L), ("a", 7L), ("a", 9L), ("a", 11L)).toDF("s", "v")
    val ident = Stats.quantileNormalize(solo, "s", "v")
      .collect().map(r => r.getLong(1) -> r.getLong(4)).toMap
    assert(ident == Map(5L -> 5L, 7L -> 7L, 9L -> 9L, 11L -> 11L))
  }

  test("quantileNormalize: lattice cap raises in-plan on continuous-ish columns") {
    val wide = spark.range(70000).selectExpr("'g' AS s", "id AS v")
    val e = intercept[Exception](Stats.quantileNormalize(wide, "s", "v").collect())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("band the column"))
  }

  test("isotonicCalibrate: PAV pools the anti-monotone dip; monotone input is identity") {
    // 4 bins of 5 rows, raw rates [0.2, 0.8, 0.4, 0.8]: PAV pools bins
    // 1 and 2 to (4+2)/10 = 0.6 -> fit [0.2, 0.6, 0.6, 0.8]
    def mk(posPerBin: Seq[Int]) = posPerBin.zipWithIndex.flatMap { case (p, b) =>
      (0 until 5).map(i => (i < p, b.toLong))
    }.toDF("y", "s")
    val got = Stats.isotonicCalibrate(mk(Seq(1, 4, 2, 4)), "y", "s",
      domainLo = 0L, domainStep = 1L, nbins = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(4), r.getAs[Double]("calibrated")))).toMap
    assert(got(0L) === ((200000L, 0.2)))
    assert(got(1L) === ((800000L, 0.6)), "the violator pair must pool")
    assert(got(2L) === ((400000L, 0.6)))
    assert(got(3L) === ((800000L, 0.8)))
    // already-monotone input: the fit IS the raw rate
    val mono = Stats.isotonicCalibrate(mk(Seq(0, 2, 3, 5)), "y", "s",
      0L, 1L, 4).collect().map(r => r.getLong(0) -> r.getAs[Double]("calibrated")).toMap
    assert(mono == Map(0L -> 0.0, 1L -> 0.4, 2L -> 0.6, 3L -> 1.0))
    // monotonicity holds by construction on any input
    val fits = Stats.isotonicCalibrate(mk(Seq(4, 0, 5, 1)), "y", "s", 0L, 1L, 4)
      .orderBy("bin").collect().map(_.getAs[Double]("calibrated"))
    assert(fits.zip(fits.tail).forall { case (a, b) => a <= b }, fits.toSeq)
  }

  test("isotonicCalibrate: out-of-range scores clamp into the edge bins; bad params fail") {
    val df = Seq((true, -50L), (false, 10L), (true, 999L)).toDF("y", "s")
    val got = Stats.isotonicCalibrate(df, "y", "s", 0L, 10L, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(0L -> 1L, 1L -> 1L, 3L -> 1L)) // -50 clamps to bin 0, 999 to bin 3
    intercept[IllegalArgumentException](
      Stats.isotonicCalibrate(df, "y", "s", 0L, 10L, 1))
    intercept[IllegalArgumentException](
      Stats.isotonicCalibrate(df, "y", "s", 0L, 0L, 4))
  }

  test("targetEncodeLoo: LOO math, prior shrinkage, null-target form, singleton NULL") {
    val df = Seq(
      ("a", Some(10L)), ("a", Some(20L)), ("a", Some(30L)),
      ("b", Some(100L)), ("a", None)
    ).toDF("cat", "y")
    // m = 0: pure LOO; singleton b has no other rows -> NULL in-band
    val m0 = Stats.targetEncodeLoo(df, "cat", "y", priorWeight = 0L)
      .collect().map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long])) ->
        Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    assert(m0(("a", Some(10L))) == Some(25.0)) // (60-10)/2
    assert(m0(("a", Some(30L))) == Some(15.0)) // (60-30)/2
    assert(m0(("b", Some(100L))) == None, "singleton at m=0 must be NULL, not its own label")
    assert(m0(("a", None)) == Some(20.0))      // non-LOO: 60/3
    // m = 2: prior = 160/4 = 40 shrinks everything toward the global mean
    val m2 = Stats.targetEncodeLoo(df, "cat", "y", priorWeight = 2L)
      .collect().map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long])) ->
        Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    assert(m2(("a", Some(10L))) == Some(32.5)) // (50 + 80)/4
    assert(m2(("b", Some(100L))) == Some(40.0)) // (0 + 80)/2 = the prior
    assert(m2(("a", None)) == Some(28.0))      // (60 + 80)/5
  }

  test("targetEncodeLoo: non-integral targets rejected; NULL category is a category") {
    val bad = Seq(("a", 1.5)).toDF("cat", "y")
    val e = intercept[IllegalArgumentException](
      Stats.targetEncodeLoo(bad, "cat", "y"))
    assert(e.getMessage.contains("integral target"))
    val withNullCat = Seq((Some("a"), 10L), (None, 20L), (None, 40L))
      .toDF("cat", "y")
    val got = Stats.targetEncodeLoo(withNullCat, "cat", "y", priorWeight = 0L)
      .filter(org.apache.spark.sql.functions.col("cat").isNull).collect()
    assert(got.length == 2, "NULL-category rows must keep their own group")
    assert(got.map(_.getAs[Double]("enc")).toSet == Set(40.0, 20.0)) // LOO within the null group
  }

  test("prAtThresholds: duplicate or empty threshold lists fail fast") {
    val df = Seq(("a", true, 1L)).toDF("slice", "label", "score")
    intercept[IllegalArgumentException](
      Stats.prAtThresholds(df, "slice", "label", "score", Seq.empty))
    intercept[IllegalArgumentException](
      Stats.prAtThresholds(df, "slice", "label", "score", Seq(1L, 1L)))
  }

  test("welchTTest: hand-checked two-sample t; degenerate sides go NULL in-band") {
    // a = {1,2,3,4,5}: mean 3, var 2.5; b = {10,12,14}: mean 12, var 4
    // se2 = 2.5/5 + 4/3 = 1.8333...; t = -9/sqrt(se2) = -6.646941
    // df = se2^2 / (0.25/4 + (4/3)^2/2) = 3.532847 (Welch-Satterthwaite)
    val df = (Seq(1L, 2L, 3L, 4L, 5L).map(("a", _)) ++
      Seq(10L, 12L, 14L).map(("b", _))).toDF("s", "v")
    val r = Stats.welchTTest(df, "s", "v", "a", "b").head()
    assert(r.getAs[Long]("n_a") === 5L && r.getAs[Long]("n_b") === 3L)
    assert(r.getAs[Double]("mean_a") === 3.0 && r.getAs[Double]("mean_b") === 12.0)
    assert(math.abs(r.getAs[Double]("t_welch") - -6.646941) < 1e-5)
    assert(math.abs(r.getAs[Double]("df_welch") - 3.532847) < 1e-5)
    // n < 2 on one side, or two constants (zero pooled se): NULL t/df
    val tiny = Seq(("a", 1L), ("b", 5L), ("b", 6L)).toDF("s", "v")
    val r2 = Stats.welchTTest(tiny, "s", "v", "a", "b").head()
    assert(r2.isNullAt(r2.fieldIndex("t_welch")))
    val const = Seq(("a", 2L), ("a", 2L), ("b", 2L), ("b", 2L)).toDF("s", "v")
    val r3 = Stats.welchTTest(const, "s", "v", "a", "b").head()
    assert(r3.isNullAt(r3.fieldIndex("t_welch")))
  }

  test("spearmanCorr: monotone = 1, anti-monotone = -1, ties via midranks") {
    val mono = Seq((1L, 10L), (2L, 40L), (3L, 90L), (4L, 95L)).toDF("x", "y")
    assert(Stats.spearmanCorr(mono, "x", "y").head().getAs[Double]("rho") === 1.0)
    val anti = Seq((1L, 90L), (2L, 40L), (3L, 10L)).toDF("x", "y")
    assert(Stats.spearmanCorr(anti, "x", "y").head().getAs[Double]("rho") === -1.0)
    // ties: x = (1,2,2,3), y = (1,2,3,4): midrank x = (1, 2.5, 2.5, 4)
    // vs y = (1,2,3,4) -> rho = 0.9486832980... (hand-checked Pearson)
    val tied = Seq((1L, 1L), (2L, 2L), (2L, 3L), (3L, 4L)).toDF("x", "y")
    val rho = Stats.spearmanCorr(tied, "x", "y").head().getAs[Double]("rho")
    assert(math.abs(rho - 0.948683) < 1e-6)
    // constant side -> NULL (zero rank variance)
    val const = Seq((1L, 7L), (2L, 7L)).toDF("x", "y")
    assert(Stats.spearmanCorr(const, "x", "y").head().isNullAt(1))
  }

  test("ksDriftBySlice + bhReject: the planted drifter is the one rejected") {
    // "a" and "b" are two big IDENTICAL-distribution slices; "hi" is a
    // small completely-separated drifter (its contamination of "rest"
    // leaves a's/b's D at ~10/410 — far under any rejection bound)
    val df = ((1 to 200).map(i => ("a", (i % 10).toLong)) ++
      (1 to 200).map(i => ("b", (i % 10).toLong)) ++
      (1 to 10).map(_ => ("hi", 1000L))).toDF("s", "v")
    val ks = Stats.ksDriftBySlice(df, "v", "s")
    val byS = ks.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(byS.keySet === Set("a", "b", "hi"))
    // hi vs rest: completely separated -> D = 1.0, p ~ 0
    assert(byS("hi")._3 === 1000000L)
    assert(byS("hi")._4 < 1000L)
    assert(byS("a")._4 > 500000L, s"identical-distribution slice must not drift: $byS")
    val bh = Stats.bhReject(ks, "slice", "p_micro", qMicro = 50000L)
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(bh("hi"), "the planted drifter must be rejected")
    assert(!bh("a") && !bh("b"), s"the shared-range slices must survive: $bh")
  }

  test("bhReject: step-up property — a large p under the cut is still rejected") {
    // m = 4, q = 0.25: p = (10000, 200000, 240000, 900000) micro
    // bounds i*q/m = (62500, 125000, 187500, 250000): checks are
    // p1<=b1 T, p2<=b2 F, p3<=b3 F... p3=240000 <= 187500 F;
    // p4 <= 250000 F -> cut = 1: only the smallest rejected.
    val t1 = Seq(("w", 10000L), ("x", 200000L), ("y", 240000L), ("z", 900000L))
      .toDF("k", "p")
    val got1 = Stats.bhReject(t1, "k", "p", qMicro = 250000L)
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(got1 === Map("w" -> true, "x" -> false, "y" -> false, "z" -> false))
    // now sorted p = (10000, 185000, 187000, 900000): rank-2's
    // 185000 > 125000 FAILS its own bound, but rank-3's 187000 <=
    // 187500 passes -> cut = 3 rejects rank 2 TOO (the step-up
    // property a per-test threshold would miss)
    val t2 = Seq(("w", 10000L), ("x", 187000L), ("y", 185000L), ("z", 900000L))
      .toDF("k", "p")
    val got2 = Stats.bhReject(t2, "k", "p", qMicro = 250000L)
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(got2 === Map("w" -> true, "x" -> true, "y" -> true, "z" -> false))
  }

  /** Driver-side replay of bootstrapMeanCI's exact integer arithmetic. */
  private def bootstrapReference(
      rows: Seq[(String, Long, Long)], replicas: Int, alphaPct: Int,
      seed: Long): Map[String, (Long, Long, Long, Long, Long)] = {
    val p = graft.functions.PortableHash.P
    val ms = Stats.bootstrapMultipliers(replicas, seed)
    val ts = Stats.PoissonThresholdsP
    def h(k: Long) = (java.lang.Math.floorMod(k, p) * 514229L + 741103L) % p
    def cnt(u: Long) = ts.indexWhere(u < _) match { case -1 => ts.size.toLong; case i => i.toLong }
    def sdiv(a: Long, b: Long) = if (a < 0) -((-a * 1000000L) / b) else (a * 1000000L) / b
    rows.groupBy(_._1).map { case (g, rs) =>
      val n = rs.size.toLong
      val sx = rs.map(_._3).sum
      val means = (0 until replicas).flatMap { r =>
        val cs = rs.map { case (_, k, x) =>
          val u = ((h(k) + 1L) * ms(r) + r) % p
          (cnt(u), cnt(u) * x)
        }
        val nr = cs.map(_._1).sum
        if (nr > 0) Some((sdiv(cs.map(_._2).sum, nr), r.toLong)) else None
      }.sorted
      val nl = means.size.toLong
      val cut = nl * alphaPct / 200
      g -> ((n, sdiv(sx, n), means(cut.toInt)._1,
        means((nl - cut).toInt - 1)._1, nl))
    }
  }

  test("bootstrapMeanCI equals the driver replay; constant column collapses the CI") {
    val rows = (0 until 200).map(i =>
      (if (i % 3 == 0) "a" else "b", i.toLong * 7L + 3L, (i.toLong * 37L) % 1000L))
    val got = Stats.bootstrapMeanCI(
      rows.toDF("grp", "k", "x").repartition(7), "grp", "x", "k")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got === bootstrapReference(rows, 64, 5, 0L), s"$got")
    // every replicate mean of a constant column IS the constant, so
    // the interval has zero width — an exact end-to-end identity
    val const = (0 until 50).map(i => ("g", i.toLong, 250L))
    val c = Stats.bootstrapMeanCI(const.toDF("grp", "k", "x"), "grp", "x", "k")
      .collect().head
    assert((c.getLong(2), c.getLong(3), c.getLong(4)) ===
      ((250000000L, 250000000L, 250000000L)))
    assert(c.getLong(5) === 64L, "all replicates live on a 50-row group")
    // the interval brackets the point estimate on the mixed fixture
    got.values.foreach { case (_, m, lo, hi, _) =>
      assert(lo <= m && m <= hi, s"CI must bracket the mean: $got")
    }
  }

  /** Driver-side kmvHash31 replay (ASCII fixtures): polyHash31 + the
    * affine order-statistic scramble. */
  private def poly31(s: String): Long =
    (s.foldLeft(0L)((acc, c) => (acc * 31L + c.toLong) % 2147483647L)
      * 514229L + 741103L) % 2147483647L

  /** Driver-side replay of kmvOverlap's exact estimator arithmetic. */
  private def kmvReference(
      as: Seq[String], bs: Seq[String], k: Int): (Long, Long, Long, Long, Long, Long, Long, Boolean) = {
    val m = 2147483647L
    val numer = (k - 1).toLong * m
    val sa = as.map(poly31).distinct.sorted.take(k)
    val sb = bs.map(poly31).distinct.sorted.take(k)
    val ex = sa.size < k && sb.size < k
    val mu = (sa ++ sb).distinct.sorted
    val mg = mu.take(k)
    val cand = if (ex) mu else mg
    val j = cand.count(h => sa.contains(h) && sb.contains(h)).toLong
    val ea = if (sa.size < k) sa.size.toLong else numer / sa.last
    val eb = if (sb.size < k) sb.size.toLong else numer / sb.last
    val eu = if (ex) mu.size.toLong else numer / mg.last
    val ei = if (ex) j else j * eu / k
    val jac = if (eu > 0) ei * 1000000L / eu else -1L
    (sa.size.toLong, sb.size.toLong, ea, eb, eu, ei, jac, ex)
  }

  test("kmvOverlap: sub-k sides are EXACT set algebra; duplicates collapse") {
    val a = Seq("alpha", "beta", "gamma", "delta", "alpha", "beta")
    val b = Seq("gamma", "delta", "epsilon", "gamma")
    val got = Stats.kmvOverlap(a.toDF("key"), b.toDF("key"), "key", k = 16)
      .collect().head
    assert(got.getBoolean(8), "both sides under k => exact")
    assert((got.getLong(1), got.getLong(2)) === ((4L, 3L)), "distinct kept per side")
    assert((got.getLong(3), got.getLong(4)) === ((4L, 3L)))
    assert(got.getLong(5) === 5L, "exact union")
    assert(got.getLong(6) === 2L, "exact intersection {gamma, delta}")
    assert(got.getLong(7) === 400000L, "2/5 in micro")
  }

  test("kmvOverlap matches the driver estimator replay; estimate near truth") {
    // varied-length keys so the 31-base hash wraps and spreads; 1200
    // distinct per side, 400 shared, k = 64 -> the estimate branch
    def key(i: Int) = s"doc-$i-${(i.toLong * 2654435761L) % 1000000007L}"
    val as = (0 until 1200).map(key)
    val bs = (800 until 2000).map(key)
    val got = Stats.kmvOverlap(
      as.toDF("key").repartition(7), bs.toDF("key").repartition(5), "key", k = 64)
      .collect().head
    val ref = kmvReference(as, bs, 64)
    assert((got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4),
      got.getLong(5), got.getLong(6), got.getLong(7), got.getBoolean(8)) === ref,
      s"engine must equal the driver replay: $got vs $ref")
    assert(!got.getBoolean(8), "1200 distinct > k exercises the estimator")
    // statistical sanity vs ground truth (union 2000, intersect 400):
    // k = 64 -> ~12.5% relative error band; allow 3 sigma
    assert(math.abs(got.getLong(5) - 2000L) < 750L, s"union est: ${got.getLong(5)}")
    assert(math.abs(got.getLong(3) - 1200L) < 450L, s"side est: ${got.getLong(3)}")
  }

  test("mannWhitneyZ: hand case, tie correction, degenerate sides NULL in-band") {
    // A = {1,2,3}, B = {4,5,6}: U_a = 0 (complete separation), ranks
    // exact; replay the z formula in the driver
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("s", "v")
    val r = Stats.mannWhitneyZ(df, "s", "v", "a", "b").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 3L, 0L)))
    val varU = (3.0 * 3.0 / 12.0) * ((6.0 + 1.0) - 0.0 / (6.0 * 5.0))
    // num = r2a - na*(na+1) - na*nb with r2a = 2*(1+2+3) = 12
    val num = 12.0 - 3.0 * 4.0 - 9.0
    assert(r.getDouble(3) === math.floor(num / (2.0 * math.sqrt(varU)) * 1e6 + 0.5) / 1e6)
    // symmetric case: swapping slices flips the sign exactly
    val r2 = Stats.mannWhitneyZ(df, "s", "v", "b", "a").collect().head
    assert(r2.getDouble(3) === -r.getDouble(3))
    // heavy ties: correction shrinks variance but z stays finite; all
    // values identical -> varU = 0 -> NULL
    val tied = Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 5L)).toDF("s", "v")
    assert(Stats.mannWhitneyZ(tied, "s", "v", "a", "b").collect().head.isNullAt(3))
    // one empty side -> NULL z, counts still reported
    val solo = Seq(("a", 1L), ("a", 2L)).toDF("s", "v")
    val r3 = Stats.mannWhitneyZ(solo, "s", "v", "a", "b").collect().head
    assert((r3.getLong(0), r3.getLong(1)) === ((2L, 0L)) && r3.isNullAt(3))
  }

  test("anovaF: hand case; degenerate lattices NULL in-band") {
    // a={1,2,3} b={2,3,4} c={10,10,10}: SSB = 339-225 = 114,
    // SSW = 343-339 = 4, F = (114/2)/(4/6) = 85.5
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 2L), ("b", 3L),
      ("b", 4L), ("c", 10L), ("c", 10L), ("c", 10L)).toDF("g", "v")
    val r = Stats.anovaF(df, "g", "v").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((9L, 3L, 2L, 6L)))
    assert(r.getDouble(4) === 85.5)
    // eta² = SSB/SST = 114/118, halfUp 6
    assert(r.getDouble(5) === 0.966102)
    // one group: k < 2 -> dof and F NULL
    val one = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    val r1 = Stats.anovaF(one, "g", "v").collect().head
    assert(r1.getLong(1) === 1L && r1.isNullAt(2) && r1.isNullAt(4))
    // zero within-variance (every group constant): SSW = 0 -> F NULL
    val flat = Seq(("a", 1L), ("a", 1L), ("b", 5L), ("b", 5L)).toDF("g", "v")
    assert(Stats.anovaF(flat, "g", "v").collect().head.isNullAt(4))
  }

  test("pairwiseContrasts: the pair row replays welchTTest bitwise; exact micro diffs") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("g", "v")
    val p = Stats.pairwiseContrasts(df, "g", "v").collect()
    assert(p.length === 1)
    val r = p.head
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)) ===
      (("a", "b", 3L, 3L)))
    assert(r.getLong(4) === -3000000L) // mean 2 vs 5, exact micro
    // the t/df tree is welchTTest's — same data, same bits
    val w = Stats.welchTTest(df.withColumnRenamed("g", "s"), "s", "v", "a", "b")
      .collect().head
    assert(r.getDouble(5) === w.getDouble(4) && r.getDouble(6) === w.getDouble(5))
    // three groups -> 3 pair rows, each ordered group_a < group_b
    val df3 = df.union(Seq(("c", 9L), ("c", 11L)).toDF("g", "v"))
    val p3 = Stats.pairwiseContrasts(df3, "g", "v").collect()
    assert(p3.length === 3 && p3.forall(r => r.getString(0) < r.getString(1)))
  }

  test("brownForsytheF equals anovaF on |v - lower group median|") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 10L), ("b", 20L), ("b", 90L)).toDF("g", "v")
    // medians: a -> 2, b -> 20; z: a = {1,0,1}, b = {10,0,70}
    val viaZ = Stats.anovaF(
      Seq(("a", 1L), ("a", 0L), ("a", 1L), ("b", 10L), ("b", 0L), ("b", 70L))
        .toDF("g", "v"), "g", "v").collect().head
    val bf = Stats.brownForsytheF(df, "g", "v").collect().head
    assert(bf === viaZ)
    // even group size takes the LOWER median: {1,2,3,4} -> med 2 ->
    // z = {1,0,1,2}
    val even = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L),
      ("b", 5L), ("b", 5L)).toDF("g", "v")
    val viaZ2 = Stats.anovaF(
      Seq(("a", 1L), ("a", 0L), ("a", 1L), ("a", 2L), ("b", 0L), ("b", 0L))
        .toDF("g", "v"), "g", "v").collect().head
    assert(Stats.brownForsytheF(even, "g", "v").collect().head === viaZ2)
  }

  test("jonckheereZ: hand case with ties; monotone sign; degenerate NULL in-band") {
    // a={1,2}, b={2,3}, c={4} ordered a<b<c: 2U_ab = 7 (one tie),
    // 2U_ac = 4, 2U_bc = 4 -> 2J = 15; 2mu = 2*2 + 2*1 + 2*1 = 8;
    // A = 300-36-18 = 246, B = 0, C = 4*2 = 8
    val df = Seq(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L), ("c", 4L))
      .toDF("g", "v")
    val r = Stats.jonckheereZ(df, "g", "v").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((5L, 3L, 15L)))
    val sigma2 = (5.0 * 4.0 * (2.0 * 5.0 + 5.0) - 36.0 - 18.0) / 72.0 +
      0.0 * 0.0 / (36.0 * 5.0 * 4.0 * 3.0) + 4.0 * 2.0 / (8.0 * 5.0 * 4.0)
    val z = (15.0 - 8.0) / (2.0 * math.sqrt(sigma2))
    assert(r.getDouble(3) === math.floor(z * 1e6 + 0.5) / 1e6)
    // perfectly increasing -> maximal positive; reversed labels flip sign
    val up = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L), ("c", 5L), ("c", 6L))
      .toDF("g", "v")
    val zu = Stats.jonckheereZ(up, "g", "v").collect().head
    assert(zu.getLong(2) === 24L && zu.getDouble(3) > 0)
    val down = up.select(org.apache.spark.sql.functions.col("g"),
      (org.apache.spark.sql.functions.lit(10L) -
        org.apache.spark.sql.functions.col("v")).as("v"))
    val zd = Stats.jonckheereZ(down, "g", "v").collect().head
    assert(zd.getDouble(3) === -zu.getDouble(3))
    // one group -> z NULL; all values tied -> sigma = 0 -> z NULL
    assert(Stats.jonckheereZ(
      Seq(("a", 1L), ("a", 2L), ("a", 3L)).toDF("g", "v"), "g", "v")
      .collect().head.isNullAt(3))
    assert(Stats.jonckheereZ(
      Seq(("a", 5L), ("b", 5L), ("c", 5L)).toDF("g", "v"), "g", "v")
      .collect().head.isNullAt(3))
  }

  test("kruskalWallis: hand case with ties; all-tied NULL in-band") {
    // a={1,2} b={2,3}: doubled midranks 2/5/8, D_a=7 D_b=13,
    // H = 3/(4*5)*(49/2+169/2) - 15 = 1.35; tie 2^3-2=6,
    // C = 1 - 6/60 = 0.9 -> H/C = 1.5
    val df = Seq(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L)).toDF("g", "v")
    val r = Stats.kruskalWallis(df, "g", "v").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((4L, 2L, 1L)))
    assert(r.getDouble(3) === 1.5)
    // epsilon² = H_corr/(n-1) = 1.5/3
    assert(r.getDouble(4) === 0.5)
    // every value identical: C = 0 -> H NULL, counts still reported
    val tied = Seq(("a", 5L), ("a", 5L), ("b", 5L)).toDF("g", "v")
    val rt = Stats.kruskalWallis(tied, "g", "v").collect().head
    assert(rt.getLong(0) === 3L && rt.isNullAt(3) && rt.isNullAt(4))
    // single group: dof NULL
    val one = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    assert(Stats.kruskalWallis(one, "g", "v").collect().head.isNullAt(2))
  }

  test("diffInDiff: hand cells, common drift nets out, empty cell NULL in-band") {
    // treat: 10 -> 25 (+15); ctrl: 20 -> 30 (+10) => DiD = +5
    val rows = Seq(
      (true, false, 10L), (true, false, 10L), (true, true, 25L),
      (false, false, 20L), (false, true, 30L), (false, true, 30L))
    val r = Stats.diffInDiff(rows.toDF("t", "p", "v"), "t", "p", "v").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((2L, 1L, 1L, 2L)))
    assert((r.getLong(4), r.getLong(5)) === ((10000000L, 25000000L)))
    assert((r.getLong(6), r.getLong(7)) === ((20000000L, 30000000L)))
    assert(r.getLong(8) === 5000000L, "DiD nets the common +10 drift out")
    // pure common drift across both arms -> DiD exactly 0
    val drift = Seq((true, false, 10L), (true, true, 20L),
      (false, false, 50L), (false, true, 60L))
    assert(Stats.diffInDiff(drift.toDF("t", "p", "v"), "t", "p", "v")
      .collect().head.getLong(8) === 0L)
    // an empty cell (no ctrl_post) -> NULL mean AND NULL DiD
    val hole = Seq((true, false, 10L), (true, true, 20L), (false, false, 50L))
    val h = Stats.diffInDiff(hole.toDF("t", "p", "v"), "t", "p", "v").collect().head
    assert(h.isNullAt(7) && h.isNullAt(8))
  }

  test("kmvOverlapMatrix: every unordered pair matches the two-corpus form") {
    val rows = Seq(
      ("en", "alpha"), ("en", "beta"), ("en", "gamma"),
      ("de", "beta"), ("de", "gamma"), ("de", "delta"),
      ("fr", "zeta"), ("fr", "alpha"), ("fr", "alpha"))
    val df = rows.toDF("lang", "key")
    val got = Stats.kmvOverlapMatrix(df, "lang", "key", k = 16).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(6), r.getLong(7), r.getLong(8), r.getBoolean(9)))).toMap
    assert(got.keySet === Set(("de", "en"), ("de", "fr"), ("en", "fr")))
    // en={alpha,beta,gamma}, de={beta,gamma,delta}: union 4, inter 2
    assert(got(("de", "en"))  === ((4L, 2L, 500000L, true)))
    // de vs fr disjoint: union 5, inter 0
    assert(got(("de", "fr")) === ((5L, 0L, 0L, true)))
    // each pair must equal kmvOverlap run on the two slices directly
    val pair = Stats.kmvOverlap(
      df.filter(df("lang") === "de").select("key"),
      df.filter(df("lang") === "en").select("key"), "key", k = 16)
      .collect().head
    assert((pair.getLong(5), pair.getLong(6), pair.getLong(7), pair.getBoolean(8))
      === got(("de", "en")), "matrix and pair forms must agree")
  }

  test("bootstrapMeanCI: guards — non-integral key, bad alpha/replicas") {
    val df = Seq(("g", "k1", 5L)).toDF("grp", "k", "x")
    val e = intercept[IllegalArgumentException](
      Stats.bootstrapMeanCI(df, "grp", "x", "k"))
    assert(e.getMessage.contains("must be integral"))
    val ok = Seq(("g", 1L, 5L)).toDF("grp", "k", "x")
    intercept[IllegalArgumentException](
      Stats.bootstrapMeanCI(ok, "grp", "x", "k", replicas = 2))
    intercept[IllegalArgumentException](
      Stats.bootstrapMeanCI(ok, "grp", "x", "k", alphaPct = 0))
  }
}
