package graft.scale

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class SamplingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def keys = (0L until 1000L).toDF("k")

  test("temperature sampling: alpha < 1 up-weights small sources, deterministic, budget-capped") {
    import org.apache.spark.sql.functions._
    // big source: 900 docs x 10 tokens; small: 100 docs x 10 tokens
    val docs = (0L until 1000L).map(i =>
      (i, if (i < 900) "big" else "small", "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"))
      .toDF("doc_id", "source", "text")
    def keptBySource(alpha: Double, budget: Long): Map[String, Long] =
      Sampling.sampleByTemperature(docs, "doc_id", "text", "source", alpha, budget)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val t = keptBySource(alpha = 0.5, budget = 2000L)
    // proportional shares would be 9:1; alpha=0.5 shares are 3:1 —
    // the small source keeps a ~3x larger fraction of itself
    val fracBig = t("big").toDouble / 900
    val fracSmall = t("small").toDouble / 100
    assert(fracSmall > fracBig * 2, s"small=$fracSmall big=$fracBig")
    // deterministic across runs and partitionings
    val again = Sampling.sampleByTemperature(docs.repartition(7), "doc_id", "text",
      "source", 0.5, 2000L).select("doc_id").as[Long].collect().toSet
    val first = Sampling.sampleByTemperature(docs, "doc_id", "text",
      "source", 0.5, 2000L).select("doc_id").as[Long].collect().toSet
    assert(first == again)
    // a budget >= the corpus keeps everything at any alpha... only when
    // alpha = 1 (rates = B/T_total-proportional); with alpha < 1 the
    // big source's target can dip below its mass even at full budget,
    // so assert the alpha = 1 identity instead
    assert(keptBySource(1.0, 10000L) == Map("big" -> 900L, "small" -> 100L))
  }

  test("shuffleDeterministic: a reproducible permutation, no global order, seed-sensitive") {
    val out = Sampling.shuffleDeterministic(keys, "k", shards = 8, seed = 42L)
      .select("k", "shard", "pos").as[(Long, Long, Long)].collect()
    assert(out.length == 1000)
    // per shard: positions are exactly 0..n-1 (a permutation, no gaps)
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq)
    }
    // reproducible across runs AND partitionings
    val again = Sampling.shuffleDeterministic(keys.repartition(7), "k", 8, 42L)
      .select("k", "shard", "pos").as[(Long, Long, Long)].collect()
    assert(out.toSet == again.toSet)
    // the order is not the key order (it is a shuffle)
    val shard0 = out.filter(_._2 == 0L).sortBy(_._3).map(_._1).toSeq
    assert(shard0 != shard0.sorted)
    // a different seed produces a different permutation
    val other = Sampling.shuffleDeterministic(keys, "k", 8, 7L)
      .select("k", "shard", "pos").as[(Long, Long, Long)].collect()
    assert(out.toSet != other.toSet)
  }

  test("shuffleDeterministic: string keys hash to real shards (no null collapse)") {
    val sk = (0 until 500).map(i => s"doc-$i").toDF("k")
    val out = Sampling.shuffleDeterministic(sk, "k", shards = 8, seed = 42L)
      .select("k", "shard", "pos").as[(String, Long, Long)].collect()
    assert(out.length == 500)
    assert(out.map(_._2).distinct.length == 8) // spread, not one null shard
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq)
    }
    val again = Sampling.shuffleDeterministic(sk.repartition(5), "k", 8, 42L)
      .select("k", "shard", "pos").as[(String, Long, Long)].collect()
    assert(out.toSet == again.toSet) // deterministic for string keys too
  }

  test("sampleKPerGroup: exactly k per group, deterministic, bounded-state plan") {
    val df = (0L until 3000L).map(i => (i % 3, i)).toDF("g", "k")
    val out = Sampling.sampleKPerGroup(df, Seq("g"), "k", k = 7)
    val got = out.as[(Long, Long)].collect()
    assert(got.length == 21)
    assert(got.groupBy(_._1).forall(_._2.length == 7))
    // reproducible across partitionings
    val again = Sampling.sampleKPerGroup(df.repartition(11), Seq("g"), "k", 7)
      .as[(Long, Long)].collect()
    assert(got.toSet == again.toSet)
    // different seed → different sample
    val other = Sampling.sampleKPerGroup(df, Seq("g"), "k", 7, seed = 9L)
      .as[(Long, Long)].collect()
    assert(got.toSet != other.toSet)
    // bounded state: the partial top-k phase is in the plan
    assert(out.queryExecution.executedPlan.toString.contains("partial_bounded_top_k"))
  }

  test("weighted sampling keeps heavy rows proportionally more, deterministically") {
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) 1L else 9L)).toDF("k", "w")
    val kept = Sampling.byWeight(df, "k", "w", targetFrac = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // E[keep | w=1] = .2*1/5 = .04 -> ~40 of 1000; E[keep | w=9] = .36 -> ~360
    val light = kept.count(_._2 == 1L)
    val heavy = kept.count(_._2 == 9L)
    assert(light > 10 && light < 90, s"light=$light")
    assert(heavy > 280 && heavy < 440, s"heavy=$heavy")
    // deterministic + partitioning-invariant
    val again = Sampling.byWeight(df.repartition(7), "k", "w", 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == kept.toSet)
  }

  test("stratified systematic applies per-stratum rates") {
    val df = (0L until 300L).map(i => (if (i % 3 == 0) "a" else "b", i)).toDF("s", "k")
    val out = Sampling.stratifiedSystematic(df, "s", "k", Map("a" -> 1L), defaultMod = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // stratum a: mod 1 keeps every row (100); stratum b: k % 100 == 0 within b's keys
    assert(out.count(_._1 == "a") == 100)
    assert(out.count(_._1 == "b") == out.count { case (s, k) => s == "b" && k % 100 == 0 })
  }

  test("splitAssign: total coverage, ~fractions, partition-invariant") {
    val df = (0L until 2000L).map(i => (i, s"doc $i")).toDF("k", "t")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Sampling.splitAssign(df, "k", splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got.size == 2000) // every row labeled, none dropped
    val counts = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 1500 && counts("train") < 1700, counts.toString)
    assert(counts("val") > 120 && counts("val") < 280, counts.toString)
    // re-run on a different partitioning assigns identically
    val again = Sampling.splitAssign(df.repartition(7), "k", splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again == got)
  }

  test("splitAssign rejects bad fraction sets and non-integral keys") {
    val df = Seq((1L, "a")).toDF("k", "t")
    intercept[IllegalArgumentException](
      Sampling.splitAssign(df, "k", Seq("a" -> 0.5, "b" -> 0.4)))
    intercept[IllegalArgumentException](
      Sampling.splitAssign(df, "k", Seq("a" -> 1.0)))
    intercept[IllegalArgumentException](
      Sampling.splitAssign(df, "k", Seq("a" -> 0.5, "a" -> 0.5)))
    // a string key would cast to null → every row in the last split
    intercept[IllegalArgumentException](
      Sampling.splitAssign(df, "t", Seq("a" -> 0.5, "b" -> 0.5)))
  }

  test("splitAssignGrouped: whole groups co-assign; diverse groups spread; null is a group") {
    val rows = (0L until 900L).map(i => (i, s"domain${i % 90}.example")) ++
      Seq((900L, null.asInstanceOf[String]), (901L, null.asInstanceOf[String]))
    val df = rows.toDF("doc_id", "domain")
    val out = Sampling.splitAssignGrouped(df, "domain",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // LEAKAGE-SAFETY: every group maps to exactly one split (null incl.)
    val perGroup = out.groupBy("domain").agg(
      org.apache.spark.sql.functions.countDistinct("split").as("n")).collect()
    assert(perGroup.forall(_.getLong(1) == 1L))
    // 90 diverse groups spread across all three splits, roughly by fraction
    val bySplit = out.select("domain", "split").distinct()
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
    // deterministic + partition-invariant
    val again = Sampling.splitAssignGrouped(df.repartition(7), "domain",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = out.select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first == again)
  }

  test("keepBestKPerGroup: top scores win, ties break by id asc, null scores lose") {
    val df = Seq(
      ("a", 1L, Some(0.9)), ("a", 2L, Some(0.7)), ("a", 3L, Some(0.9)),
      ("a", 4L, Some(0.1)), ("a", 5L, None), // null never wins
      ("b", 6L, Some(0.5))
    ).toDF("grp", "id", "score")
    val got = Sampling.keepBestKPerGroup(df, Seq("grp"), "id", "score", k = 2)
      .as[(String, Long, Double)].collect().toSet
    // group a: two 0.9s tie → ids 1 and 3 (id asc beats the 0.7)
    assert(got == Set(("a", 1L, 0.9), ("a", 3L, 0.9), ("b", 6L, 0.5)))
    // string ids would cast to null and silently empty the output
    val strIds = Seq(("a", "u1", 0.9)).toDF("grp", "id", "score")
    assertThrows[IllegalArgumentException] {
      Sampling.keepBestKPerGroup(strIds, Seq("grp"), "id", "score", 2)
    }
    assertThrows[IllegalArgumentException] {
      Sampling.importanceResample(strIds.toDF("grp", "doc_id", "w"), "doc_id", "grp",
        strIds, "grp", n = 1)
    }
  }

  test("dropBottomFractionPerGroup: bottom frac by rank per group, nulls drop first") {
    val df = Seq(
      ("a", 1L, Some(0.9)), ("a", 2L, Some(0.1)), ("a", 3L, Some(0.5)),
      ("a", 4L, None), ("a", 5L, Some(0.7)), // n=5 → floor(0.4·5)=2 drop: null id4, then 0.1 id2
      ("b", 6L, Some(0.3)), ("b", 7L, Some(0.2)) // n=2 → floor(0.4·2)=0 drop
    ).toDF("grp", "id", "score")
    val kept = Sampling.dropBottomFractionPerGroup(df, Seq("grp"), "id", "score", 0.4)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L, 6L, 7L))
    // frac 0 keeps everything; frac ≥ 1 rejected
    assert(Sampling.dropBottomFractionPerGroup(df, Seq("grp"), "id", "score", 0.0)
      .count() == 7)
    assertThrows[IllegalArgumentException] {
      Sampling.dropBottomFractionPerGroup(df, Seq("grp"), "id", "score", 1.0)
    }
  }

  test("importanceResample: selection skews to target-like docs, deterministic") {
    // 20 docs in the target's vocabulary, 20 in a disjoint one: the
    // target model scores alien tokens as OOV, so the log-ratio gap
    // (several nats) dominates the Gumbel noise for most keys
    val docs = ((0L until 20L).map(i => (i, s"alpha beta gamma delta t$i")) ++
      (20L until 40L).map(i => (i, s"omega psi chi nu o$i"))).toDF("doc_id", "text")
    val target = docs.filter(org.apache.spark.sql.functions.col("doc_id") < 20)
    val got = Sampling.importanceResample(docs, "doc_id", "text", target, "text", n = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 10)
    val targetLike = got.count(_._1 < 20)
    assert(targetLike >= 8, s"expected target-domain docs to dominate, got $targetLike/10")
    // every target-like doc outscores every alien doc on logratio
    val minT = got.filter(_._1 < 20).map(_._2).minOption
    val maxO = got.filter(_._1 >= 20).map(_._2).maxOption
    (minT, maxO) match {
      case (Some(t), Some(o)) => assert(t > o)
      case _ => ()
    }
    // deterministic + partition-invariant
    val again = Sampling.importanceResample(docs.repartition(7), "doc_id", "text",
      target, "text", n = 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == again.toSeq)
  }

  test("takeTokensPerGroup: best docs admitted until the running token sum exceeds the budget") {
    import spark.implicits._
    val df = Seq(
      // group a: scores 9,8,7 with tokens 40,50,30 — budget 100 admits 9(40),8(90); 7 would hit 120
      (1L, "a", 40L, 9.0), (2L, "a", 50L, 8.0), (3L, "a", 30L, 7.0),
      // group b: single oversize doc never fits
      (4L, "b", 200L, 5.0),
      // group c: tie on score -> lower id first; null score ranks last
      (5L, "c", 60L, 4.0), (6L, "c", 60L, 4.0), (7L, "c", 10L, Double.NaN)
    ).toDF("id", "grp", "tok", "score")
      .withColumn("score", org.apache.spark.sql.functions
        .when(org.apache.spark.sql.functions.isnan(org.apache.spark.sql.functions.col("score")),
          org.apache.spark.sql.functions.lit(null)).otherwise(org.apache.spark.sql.functions.col("score")))
    val got = Sampling.takeTokensPerGroup(df, Seq("grp"), "id", "score", "tok", 100L)
      .select("id", "cum_tokens").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 40L, 2L -> 90L, 5L -> 60L))
  }

  private def epochCorpus = {
    import spark.implicits._
    def txt(n: Int) = Seq.fill(n)("t").mkString(" ")
    Seq((1L, "A", txt(100)), (2L, "B", txt(50)), (3L, "C", txt(10)))
      .toDF("doc_id", "source", "text")
  }

  test("epochAllocation: pure water-fill when no source hits its cap") {
    // caps A=200 B=100; budget 150 with equal weights -> 75/75, C weight-0
    val got = Sampling.epochAllocation(epochCorpus, "text", "source",
      Map("A" -> 1.0, "B" -> 1.0), budgetTokens = 150L, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("A").getLong(3) == 75L && got("A").getDouble(4) == 0.75)
    assert(got("B").getLong(3) == 75L && got("B").getDouble(4) == 1.5)
    assert(got("C").getLong(3) == 0L && got("C").getDouble(4) == 0.0)
    assert(got("C").getDouble(2) == 0.0) // weight column for unlisted source
  }

  test("epochAllocation: capped source caps out, remainder water-fills") {
    // budget 280: B caps at 100 (2 epochs), A gets the remaining 180
    val got = Sampling.epochAllocation(epochCorpus, "text", "source",
      Map("A" -> 1.0, "B" -> 1.0), budgetTokens = 280L, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("B").getLong(3) == 100L && got("B").getDouble(4) == 2.0)
    assert(got("A").getLong(3) == 180L && got("A").getDouble(4) == 1.8)
  }

  test("epochAllocation: infeasible budget caps every source") {
    // total capacity 300 < budget 1000 -> allocation = capacity everywhere
    val got = Sampling.epochAllocation(epochCorpus, "text", "source",
      Map("A" -> 1.0, "B" -> 1.0), budgetTokens = 1000L, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("A").getLong(3) == 200L && got("A").getDouble(4) == 2.0)
    assert(got("B").getLong(3) == 100L && got("B").getDouble(4) == 2.0)
  }

  test("expandEpochs: floor copies + deterministic fractional copy, zero-epoch sources vanish") {
    val alloc = Sampling.epochAllocation(epochCorpus, "text", "source",
      Map("A" -> 1.0, "B" -> 1.0), budgetTokens = 150L, maxEpochs = 2.0)
    // A: 0.75 epochs, u(1)=0.2553 < 0.75 -> one fractional copy;
    // B: 1.5 epochs, u(2)=0.7696 >= 0.5 -> just the full copy; C: 0 -> none
    val got = Sampling.expandEpochs(epochCorpus, "doc_id", "source", alloc)
      .select("doc_id", "epoch").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 0L), (2L, 0L)))
    // integral epochs: every doc exactly floor(e) times, no fractional copy
    val full = Sampling.epochAllocation(epochCorpus, "text", "source",
      Map("A" -> 1.0, "B" -> 1.0), budgetTokens = 1000L, maxEpochs = 2.0)
    val got2 = Sampling.expandEpochs(epochCorpus, "doc_id", "source", full)
      .select("doc_id", "epoch").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((1L, 0L), (1L, 1L), (2L, 0L), (2L, 1L)))
    // partitioning-invariant
    val again = Sampling.expandEpochs(epochCorpus.repartition(5), "doc_id", "source", alloc)
      .select("doc_id", "epoch").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == got)
  }

  test("curriculumBands: exact deciles on a unit lattice; ties share a band; nulls drop") {
    import spark.implicits._
    val df = ((1 to 100).map(i => (i.toLong, Option(i.toLong))) :+ ((999L, Option.empty[Long])))
      .toDF("id", "score")
    val got = Sampling.curriculumBands(df, "id", "score", bands = 10, grid = 1024)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.size == 100) // the null-score doc is excluded
    // scores 1..100 on step-1 buckets -> band = ((s-1)*10) div 100 exactly
    assert((1 to 100).forall(i => got(i.toLong) == (i - 1) * 10 / 100))
    // tied scores always share a band, placed by mass strictly below
    val ties = (1 to 100).map(i => (i.toLong, if (i <= 50) 5L else 10L)).toDF("id", "score")
    val tb = Sampling.curriculumBands(ties, "id", "score", bands = 10, grid = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(tb.filter(_._1 <= 50).map(_._2).toSet == Set(0L))
    assert(tb.filter(_._1 > 50).map(_._2).toSet == Set(5L))
    // partition-invariant
    val again = Sampling.curriculumBands(df.repartition(9), "id", "score", 10, 1024)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == got)
  }

  test("epochAllocation: rejects empty, negative, and all-zero weights") {
    intercept[IllegalArgumentException] {
      Sampling.epochAllocation(epochCorpus, "text", "source", Map.empty, 100L)
    }
    intercept[IllegalArgumentException] {
      Sampling.epochAllocation(epochCorpus, "text", "source", Map("A" -> -1.0), 100L)
    }
    intercept[IllegalArgumentException] {
      Sampling.epochAllocation(epochCorpus, "text", "source", Map("A" -> 0.0), 100L)
    }
    // a positive weight that quantizes to 0 micro-units would divide by
    // zero inside the waterline — rejected loudly, not silently wrong;
    // the boundary is the half-up rounding's own (5e-7 -> 1 micro-unit)
    intercept[IllegalArgumentException] {
      Sampling.epochAllocation(epochCorpus, "text", "source",
        Map("A" -> 1.0, "B" -> 4e-7), 100L)
    }
    Sampling.epochAllocation(epochCorpus, "text", "source",
      Map("A" -> 1.0, "B" -> 6e-7), 100L).collect() // quantizes to 1: valid
  }

  test("epochAllocation: positive-weight key absent from the data fails loudly") {
    // a typo'd source name would otherwise silently hand its budget
    // share to the others — the in-plan check raises at action time
    val ex = intercept[Exception] {
      Sampling.epochAllocation(epochCorpus, "text", "source",
        Map("A" -> 1.0, "Z_TYPO" -> 1.0), budgetTokens = 100L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("redistribute")))
    // a ZERO-weight absent key is fine (it allocates nothing anyway)
    val ok = Sampling.epochAllocation(epochCorpus, "text", "source",
      Map("A" -> 1.0, "Z_TYPO" -> 0.0), budgetTokens = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(ok("A") == 100L && !ok.contains("Z_TYPO"))
  }

  test("mixtureDriftAudit: realized vs half-up targets, absent recipe source pages, null group audits as ''") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (Some("a"), "w w w"), (Some("a"), "w w w"),        // a: 6 tokens
      (Some("b"), "w w"), (Some("b"), "w w"),            // b: 4 tokens
      (None: Option[String], "w w")                       // null group: 2 tokens
    ).toDF("src", "text")
    val got = Sampling.mixtureDriftAudit(df, "src", "text",
        Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), toleranceMicro = 100000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(if (r.isNullAt(2)) null else r.getLong(2)),
          r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // total 12 tokens; realized a=6/12, b=4/12, ''=2/12, c absent
    assert(got("a") === ((6L, Some(500000L), 500000L, 0L, true)))
    assert(got("b") === ((4L, Some(333333L), 300000L, 33333L, true)))
    assert(got("") === ((2L, Some(166666L), 0L, 166666L, false)),
      "an off-recipe (null) source is drift, not noise")
    assert(got("c") === ((0L, Some(0L), 200000L, 200000L, false)),
      "a recipe source missing from the corpus must page")
    // empty corpus: realized NULL everywhere, verdict = target within tol
    val empty = df.filter(col("text") === "nope")
    val e = Sampling.mixtureDriftAudit(empty, "src", "text",
        Map("a" -> 1.0), toleranceMicro = 0L).collect()
    assert(e.length === 1 && e.head.isNullAt(2) && !e.head.getBoolean(5))
    intercept[IllegalArgumentException](
      Sampling.mixtureDriftAudit(df, "src", "text", Map.empty, 0L))
    intercept[IllegalArgumentException](
      Sampling.mixtureDriftAudit(df, "src", "text", Map("a" -> 0.0), 0L))
  }

  test("randomNegatives: deterministic, label-disjoint, drawn from the candidate pool") {
    val anchors = Seq((1L, "a"), (2L, "b")).toDF("id", "lab")
    val cands = Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "b"), (5L, "c"))
      .toDF("id", "lab")
    def run() = Sampling.randomNegatives(anchors, "id", "lab",
      cands, "id", "lab", k = 4, nBuckets = 4, salt = "s1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    val got = run()
    assert(got.nonEmpty && (got sameElements run()), "same salt replays identically")
    val anchorLab = Map(1L -> "a", 2L -> "b")
    val candLab = Map(1L -> "a", 2L -> "b", 3L -> "a", 4L -> "b", 5L -> "c")
    got.foreach { case (aid, j, nid, nlab) =>
      assert(j >= 0 && j < 4)
      assert(candLab(nid) == nlab, "negative must be a real candidate with its own label")
      assert(nlab != anchorLab(aid), "a negative must carry a DIFFERENT label")
    }
    assert(got.groupBy(_._1).forall(_._2.length <= 4), "at most k draws per anchor")
    // a different salt draws a different negative somewhere
    val other = Sampling.randomNegatives(anchors, "id", "lab",
      cands, "id", "lab", k = 4, nBuckets = 4, salt = "s2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    assert(!(got sameElements other), "distinct salts must not replay the same draws")
  }

  test("randomNegatives: duplicate (id, label) candidates dedupe; conflicting labels raise") {
    val anchors = Seq((1L, "a")).toDF("id", "lab")
    // duplicate rows carrying the SAME label collapse in the id prepass:
    // identical output to the deduped pool
    val dup = Seq((2L, "b"), (2L, "b"), (3L, "c")).toDF("id", "lab")
    val ded = Seq((2L, "b"), (3L, "c")).toDF("id", "lab")
    def run(c: org.apache.spark.sql.DataFrame) =
      Sampling.randomNegatives(anchors, "id", "lab", c, "id", "lab",
        k = 3, nBuckets = 2, salt = "s1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(t => (t._1, t._2))
    assert(run(dup) sameElements run(ded))
    // one id carrying TWO labels would fan a single draw out — raise
    val conflict = Seq((2L, "b"), (2L, "c")).toDF("id", "lab")
    val e = intercept[Exception](run(conflict))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("conflicting labels"))
  }

  test("randomNegatives: candidate ids outside [0, 2^31) raise in-plan") {
    val anchors = Seq((1L, "a")).toDF("id", "lab")
    val cands = Seq((5000000000L, "b")).toDF("id", "lab")
    val e = intercept[Exception](Sampling.randomNegatives(
      anchors, "id", "lab", cands, "id", "lab", k = 1).collect())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("outside [0, 2^31)"))
  }
}
