package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.SparkTestSession

class PrivacySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // combo (a,x): 3 rows; (a,y): 1 row; (b,x): 2 rows
  private def df = Seq(
    ("a", "x", 1), ("a", "x", 2), ("a", "x", 3),
    ("a", "y", 4),
    ("b", "x", 5), ("b", "x", 6)
  ).toDF("q1", "q2", "id")

  test("risk list contains exactly the sub-k combos") {
    val risky = Privacy.kAnonymityRisk(df, Seq("q1", "q2"), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(risky == Map(("a", "y") -> 1L, ("b", "x") -> 2L))
  }

  test("summary: groups, risky, rows at risk, min cell") {
    val s = Privacy.kAnonymitySummary(df, Seq("q1", "q2"), k = 3).collect()(0)
    assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3)) == (3L, 2L, 3L, 1L))
  }

  test("suppression yields a k-anonymous release") {
    val released = Privacy.suppress(df, Seq("q1", "q2"), k = 3)
    assert(released.count() == 3)
    val check = Privacy.kAnonymityRisk(released, Seq("q1", "q2"), k = 3)
    assert(check.count() == 0) // k-anonymous by construction
  }

  test("suppression is null-safe: risky combos with null quasi-identifiers are dropped") {
    // (a,x): 3 rows (safe); (null,x): 2 rows and (a,null): 1 row — both risky
    val withNulls = Seq(
      (Some("a"), Some("x"), 1), (Some("a"), Some("x"), 2), (Some("a"), Some("x"), 3),
      (None, Some("x"), 4), (None, Some("x"), 5),
      (Some("a"), None, 6)
    ).toDF("q1", "q2", "id")
    val released = Privacy.suppress(withNulls, Seq("q1", "q2"), k = 3)
    assert(released.select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    // audit and suppression must agree: release is k-anonymous
    assert(Privacy.kAnonymityRisk(released, Seq("q1", "q2"), k = 3).count() == 0)
  }

  test("lDiversity: uniform-sensitive cells flag risky even when k-safe; nulls don't count") {
    import spark.implicits._
    // cell a: 4 rows, all same diagnosis (k-safe at k=3, l-risky at l=2)
    // cell b: 4 rows, 3 distinct -> safe at l=2
    // cell c: 2 rows, sensitive all null -> diversity 0, risky
    val df = Seq(
      ("a", Some("flu")), ("a", Some("flu")), ("a", Some("flu")), ("a", Some("flu")),
      ("b", Some("flu")), ("b", Some("cold")), ("b", Some("ache")), ("b", Some("flu")),
      ("c", None), ("c", None)
    ).toDF("q", "dx")
    val s = Privacy.lDiversitySummary(df, Seq("q"), "dx", l = 2).head
    assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3)) == ((3L, 2L, 6L, 0L)))
  }

  test("tCloseness: concentrated cells flag at EMD > t; nulls excluded; repartition-stable") {
    import spark.implicits._
    // cell a: uniform over bands 0..9 (10 rows, plus a null that must not count)
    // cell b: all 10 rows in band 0 — far from the pooled distribution
    // pooled cum diffs give EMD exactly 0.25 for BOTH cells (each is 0.5
    // of the mass, symmetric around the pooled CDF)
    val rows = (0 to 9).map(v => ("a", Some(v.toDouble))) ++
      Seq(("a", Option.empty[Double])) ++
      (1 to 10).map(_ => ("b", Some(0.0)))
    val df = rows.toDF("q", "v")
    val risky = Privacy.tClosenessSummary(df, Seq("q"), "v",
      lo = 0.0, hi = 10.0, nbins = 10, t = 0.2).head
    assert((risky.getLong(0), risky.getLong(1), risky.getLong(2),
      risky.getDouble(3)) == ((2L, 2L, 20L, 0.25)))
    // raise t past both EMDs: same cells, nothing risky
    val safe = Privacy.tClosenessSummary(df, Seq("q"), "v",
      lo = 0.0, hi = 10.0, nbins = 10, t = 0.3).head
    assert((safe.getLong(0), safe.getLong(1), safe.getLong(2),
      safe.getDouble(3)) == ((2L, 0L, 0L, 0.25)))
    // exact integer cumulative cross-multiply: partitioning can't move it
    val again = Privacy.tClosenessSummary(df.repartition(7), Seq("q"), "v",
      lo = 0.0, hi = 10.0, nbins = 10, t = 0.2).head
    assert(again.getDouble(3) == 0.25 && again.getLong(1) == 2L)
  }

  test("tCloseness: a cell matching the population scores 0") {
    import spark.implicits._
    // both cells uniform over the same bands -> pooled == each cell
    val df = ((0 to 9).map(v => ("a", v.toDouble)) ++
      (0 to 9).map(v => ("b", v.toDouble))).toDF("q", "v")
    val s = Privacy.tClosenessSummary(df, Seq("q"), "v",
      lo = 0.0, hi = 10.0, nbins = 10, t = 0.1).head
    assert((s.getLong(1), s.getDouble(3)) == ((0L, 0.0)))
  }

  test("dpNoisyCounts: noise replays the seeded inverse-CDF exactly; epsilon scales it") {
    val df = (Seq.fill(7)("a") ++ Seq.fill(3)("b")).toDF("g")
    val got = Privacy.dpNoisyCounts(df, "g", epsilonMicro = 500000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // replay the documented formula for group "a" in plain Scala;
    // the hashed key is always group + U+001F + salt (domain-separated)
    def expectedNoise(group: String, b: Double, salt: String = ""): Long = {
      val key = group + "\u001f" + salt
      val poly = key.foldLeft(0L)((a, ch) => (a * 31L + ch.toLong) % 2147483647L)
      val h = ((poly % 1000003L) * 514229L + 741103L) % 1000003L
      val u = (h.toDouble + 0.5) / 1000003.0
      val c = u - 0.5
      val noise = -b * math.signum(c) * math.log(1.0 - 2.0 * math.abs(c))
      math.floor(noise * 1000000.0 + 0.5).toLong
    }
    // the hashed key is group + U+001F + salt (domain-separated)
    assert(got("a")._1 === 7L)
    assert(got("a")._2 === expectedNoise("a", 2.0))
    assert(got("a")._3 === 7L * 1000000L + got("a")._2)
    assert(got("b")._2 === expectedNoise("b", 2.0))
    // halving epsilon doubles the scale before rounding
    val tight = Privacy.dpNoisyCounts(df, "g", epsilonMicro = 250000L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(tight("a") === expectedNoise("a", 4.0))

    // releaseSalt: a second release draws FRESH (still replayable)
    // noise — the salted key feeds the same formula, so each distinct
    // salt is an independent epsilon-spend the caller's ledger sums
    val salted = Privacy.dpNoisyCounts(df, "g", epsilonMicro = 500000L,
      releaseSalt = "rel2")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(salted("a") === expectedNoise("a", 2.0, salt = "rel2"))
    assert(salted("a") !== got("a")._2,
      "a fresh salt must redraw the noise, not replay release 1's")
    // default salt "" is the canonical single-release form (unchanged)
    val again = Privacy.dpNoisyCounts(df, "g", epsilonMicro = 500000L, releaseSalt = "")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(again === got.map { case (k, v) => k -> v._2 })

    // the separator is exactly what makes nominally-distinct releases
    // distinct: (group, salt) pairs whose separator-less concatenations
    // collide ("a"+"b2" vs "ab"+"2") must now draw DIFFERENT noise
    val ab = Seq("a", "ab").toDF("g")
    val r1 = Privacy.dpNoisyCounts(ab, "g", releaseSalt = "b2")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val r2 = Privacy.dpNoisyCounts(ab, "g", releaseSalt = "2")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(r1("a") !== r2("ab"),
      "domain separation must break the (a,b2)/(ab,2) concat collision")
  }

  test("dpNoisyMean: clamped micro sums exact, split-budget draws replay the formula, components independent") {
    // group a: values 1.5, 2.5, 99 (clamped to hi=10) -> sum 14.0;
    // group b: -7 (clamped to lo=0) and 3 -> sum 3.0; NaN/null drop
    val df = Seq(("a", 1.5), ("a", 2.5), ("a", 99.0),
      ("b", -7.0), ("b", 3.0), ("a", Double.NaN)).toDF("g", "v")
    val got = Privacy.dpNoisyMean(df, "g", "v", loMicro = 0L, hiMicro = 10000000L,
      epsilonMicro = 1000000L, releaseSalt = "r1")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("a")._1 === 3L && got("a")._2 === 14000000L)
    assert(got("b")._1 === 2L && got("b")._2 === 3000000L)
    // replay the documented draw: key = group U+001F salt U+001F component
    def expectedNoise(group: String, component: String, b: Double): Long = {
      val key = group + "\u001f" + "r1" + "\u001f" + component
      val poly = key.foldLeft(0L)((a, ch) => (a * 31L + ch.toLong) % 2147483647L)
      val h = ((poly % 1000003L) * 514229L + 741103L) % 1000003L
      val u = (h.toDouble + 0.5) / 1000003.0
      val c = u - 0.5
      math.floor(-b * math.signum(c) * math.log(1.0 - 2.0 * math.abs(c))
        * 1000000.0 + 0.5).toLong
    }
    // sens = max(|0|, |10e6|) micro; b_sum = sens*2/eps = 20, b_cnt = 2
    assert(got("a")._3 === expectedNoise("a", "sum", 20.0))
    assert(got("a")._4 === expectedNoise("a", "cnt", 2.0))
    assert(got("a")._3 !== got("a")._4,
      "sum and count draws must be domain-separated, not the same number")
    // released mean = halfUp6(noisy_sum/noisy_count), both exact longs
    val row = Privacy.dpNoisyMean(df, "g", "v", 0L, 10000000L, 1000000L, "r1")
      .filter(col("group") === "a").collect().head
    val mean = row.getDouble(7)
    val expect = math.floor((14000000L + got("a")._3).toDouble /
      (3000000L + got("a")._4).toDouble * 1e6 + 0.5) / 1e6
    assert(mean === expect)
    // a fresh salt redraws both components
    val other = Privacy.dpNoisyMean(df, "g", "v", 0L, 10000000L, 1000000L, "r2")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(other("a") !== got("a")._3)
  }

  test("epsilonLedger: per-salt spend counted once, reuse and mixed-epsilon flagged, total composes") {
    val log = Seq(
      ("rel-1", 500000L), ("rel-2", 500000L), ("rel-2", 500000L),
      ("rel-3", 1000000L), ("rel-3", 250000L)
    ).toDF("salt", "eps")
    val got = Privacy.epsilonLedger(log, "salt", "eps")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("rel-1") === ((1L, 1L, 500000L)))
    assert(got("rel-2") === ((2L, 1L, 500000L)), "salt reuse surfaces as n_uses=2, spends once")
    assert(got("rel-3") === ((2L, 2L, 1000000L)), "mixed epsilons flag via n_eps_variants, charge the max")
    assert(got("__total__") === ((5L, 4L, 2000000L)), "composed spend sums across salts")
  }

  test("dpNoisyQuantile: utility dominates at huge epsilon — releases the lattice median") {
    // group a: values 0..100; true median 50, lattice step 5 -> 50
    // group b: skewed to the top of the domain
    val df = ((0 to 100).map(v => ("a", v.toLong)) ++
      (0 to 20).map(v => ("b", 90L + v % 10))).toDF("g", "v")
    val got = Privacy.dpNoisyQuantile(df, "g", "v",
      qMicro = 500000L, domainLo = 0L, domainHi = 100L, domainStep = 5L,
      epsilonMicro = 1000000000000L) // eps huge: Gumbel noise can't move argmax
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // a: n=101, T=50; rank hits 50 exactly at bucket 9 (values 45-49),
    // so the released LATTICE point is 45 — the discretization floor
    assert(got("a") === ((101L, 50L, 45L)))
    // b: n=21, T=10; ranks jump 0 -> 21 at bucket 18 (values 90..99
    // floor to lattice 90 and 95): closest-rank candidate is 90
    assert(got("b") === ((21L, 10L, 90L)))
  }

  test("dpNoisyQuantile: deterministic replay; distinct salts draw fresh noise; values clamp") {
    val df = (0 to 200).map(v => ("a", v.toLong * 3 - 50)).toDF("g", "v") // spills past both bounds
    def release(salt: String) = Privacy.dpNoisyQuantile(df, "g", "v",
      qMicro = 250000L, domainLo = 0L, domainHi = 400L, domainStep = 4L,
      epsilonMicro = 100000L, releaseSalt = salt)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    val r1 = release("w1")
    assert(release("w1") === r1, "same salt replays bit-identically")
    // released point is always ON the public lattice and inside the domain
    val all = Seq(release("w1"), release("w2"), release("w3"))
    all.foreach { case (n, _, dq) =>
      assert(n == 201L)
      assert(dq >= 0L && dq <= 400L && dq % 4 == 0, s"off-lattice release $dq")
    }
    // at eps=0.1 the Gumbel draws genuinely move the release across
    // salts (fresh-noise evidence; deterministic, so safe to pin)
    assert(all.map(_._3).distinct.size >= 2, s"salted releases identical: $all")
  }

  test("dpNoisyQuantile: includeDiagnostics=false nulls the exact n/target_rank, schema stable") {
    val df = (0 to 100).map(v => ("a", v.toLong)).toDF("g", "v")
    def release(diag: Boolean) = Privacy.dpNoisyQuantile(df, "g", "v",
      qMicro = 500000L, domainLo = 0L, domainHi = 100L, domainStep = 5L,
      epsilonMicro = 1000000000000L, includeDiagnostics = diag)
    val open = release(diag = true).head()
    val gated = release(diag = false).head()
    // same release, same schema — only the non-private diagnostics null out
    assert(release(diag = false).columns sameElements release(diag = true).columns)
    assert(gated.getAs[Long]("dp_quantile") === open.getAs[Long]("dp_quantile"))
    assert(open.getAs[Long]("n") === 101L && open.getAs[Long]("target_rank") === 50L)
    assert(gated.isNullAt(gated.fieldIndex("n")))
    assert(gated.isNullAt(gated.fieldIndex("target_rank")))
  }

  test("dpNoisyQuantile: lattice cap and parameter validation fail fast") {
    val df = Seq(("a", 1L)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      Privacy.dpNoisyQuantile(df, "g", "v", 500000L, 0L, 10000000L, 1L)
    }
    assert(e.getMessage.contains("lattice"))
    intercept[IllegalArgumentException] {
      Privacy.dpNoisyQuantile(df, "g", "v", 1000001L, 0L, 10L, 1L)
    }
    intercept[IllegalArgumentException] {
      Privacy.dpNoisyQuantile(df, "g", "v", 500000L, 10L, 0L, 1L)
    }
  }
}
