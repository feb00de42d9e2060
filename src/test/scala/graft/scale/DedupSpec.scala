package graft.scale

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
  private val nearDup = base.replace("green", "dark") // one-token edit
  private val unrelated =
    "completely different content about spark query engines shuffling data across many executors"

  private def docs = Seq(
    (1L, base), (2L, nearDup), (3L, unrelated), (4L, base)
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts dups") {
    val got = Dedup.exact(docs, "doc_id", Seq("text"))
      .select("doc_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(got(1L) == 2L) // docs 1 and 4 identical
    assert(got(2L) == 1L && got(3L) == 1L)
  }

  test("minhash LSH finds the planted near-dup pair (and the exact pair)") {
    val pairs = Dedup.nearDupMinhash(docs, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incremental minhash: waves probe the persisted band index, never re-pair it") {
    // wave 1 (accepted): base + unrelated; wave 2 (new delivery): a
    // near-dup of base, an exact copy of base, and a novel doc
    val accepted = Seq((1L, base), (3L, unrelated)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, nearDup), (11L, base),
      (12L, "novel wave content nothing like anything accepted before this delivery arrived")
    ).toDF("doc_id", "text")
    val idx = Dedup.minhashBandIndex(accepted, "doc_id", "text",
      k = 3, numHashes = 64, bands = 64)
    val sets = Dedup.hashedShingleTable(accepted, "doc_id", "text", k = 3)
    val pairs = Dedup.nearDupMinhashAgainstIndex(batch, idx, sets,
      "doc_id", "text", k = 3, numHashes = 64, bands = 64, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((10L, 1L)) && pairs.contains((11L, 1L)))
    // only batch x index pairs: the settled index side never re-pairs,
    // and batch-internal pairs (10,11) are not this operator's job
    assert(pairs.forall { case (a, b) => a >= 10L && b < 10L })
    assert(!pairs.exists(_._2 == 3L))

    // anti-joining the probe's pairs drops exactly the near-dup batch rows
    val kept = batch.join(
        Dedup.nearDupMinhashAgainstIndex(batch, idx, sets,
          "doc_id", "text", k = 3, numHashes = 64, bands = 64, threshold = 0.5)
          .select(col("id_a").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L))

    // full-recall cross-pair set == the batch x accepted restriction of
    // the batch-union-accepted pair set (same banding family)
    val unionPairs: Set[(Long, Long)] =
      Dedup.nearDupMinhash(batch.unionByName(accepted), "doc_id", "text",
        k = 3, numHashes = 64, bands = 64, threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val crossOnly = unionPairs
      .filter { case (a, b) => (a < 10L) != (b < 10L) }
      .map { case (a, b) => if (a >= 10L) (a, b) else (b, a) }
    assert(pairs == crossOnly)

    // a second wave probes the GROWN index (wave-2 survivors appended)
    val accepted2 = accepted.unionByName(batch.filter(col("doc_id") === 12L))
    val batch3 = Seq((20L, "novel wave content nothing like anything accepted before this delivery came")).toDF("doc_id", "text")
    val pairs3 = Dedup.nearDupMinhashAgainstIndex(batch3,
      Dedup.minhashBandIndex(accepted2, "doc_id", "text", k = 3, numHashes = 64, bands = 64),
      Dedup.hashedShingleTable(accepted2, "doc_id", "text", k = 3),
      "doc_id", "text", k = 3, numHashes = 64, bands = 64, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs3 == Set((20L, 12L)), s"wave-3 probe found $pairs3")
  }

  test("simhash finds exact pair at hamming 0 and near-dup within budget") {
    val pairs = Dedup.nearDupSimhash(docs, "doc_id", "text", maxHamming = 20)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 4L)) == 0)
    assert(m.contains((1L, 2L)))
  }

  test("ngram jaccard: identical pair scores 1.0, near-dup high, unrelated absent") {
    val pairs = Dedup.nearDupNgram(docs, "doc_id", "text", k = 3, threshold = 0.3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 4L)) == 1.0)
    assert(!m.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("deduplicate: end-to-end keeps one representative per near-dup cluster") {
    val pairs = Dedup.nearDupMinhash(docs, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.5)
    val out = docs.join(
        Dedup.nonRepresentatives(pairs).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    // docs 1,2,4 form one near-dup cluster (1 kept); 3 is unrelated
    assert(out == Set(1L, 3L))
  }

  test("clusters: connected components assign min reachable id") {
    // graph: 1-2, 2-5 (chain), 3-4; 6 isolated → clusters {1,2,5}→1, {3,4}→3, {6}→6
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 5L), (3L, 4L)).toDF("id_a", "id_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 3L -> 3L, 4L -> 3L, 6L -> 6L)
    // driver union-find path (pairs within the budget)
    val got = Dedup.clusters(ids, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == expect)
    // distributed min-label propagation path (budget forced off) must
    // produce the identical labeling
    val gotDist = SparkTestSession.withConf(DriverFold.Conf, "0")(
      Dedup.clusters(ids, "doc_id", pairs).as[(Long, Long)].collect().toMap)
    assert(gotDist == expect)
    // budget EXCEEDED (not just disabled) must also fall through to the
    // distributed path, not truncate the pair set
    val gotOver = SparkTestSession.withConf(DriverFold.Conf, "1")(
      Dedup.clusters(ids, "doc_id", pairs).as[(Long, Long)].collect().toMap)
    assert(gotOver == expect)
  }

  test("clusterSizeCensus: size histogram over an existing clusters frame") {
    // clusters {1,2,5}, {3,4}, {6} → one size-3, one size-2, one size-1
    val assign = Seq(
      (1L, 1L), (2L, 1L), (5L, 1L), (3L, 3L), (4L, 3L), (6L, 6L)
    ).toDF("id", "cluster")
    val got = Dedup.clusterSizeCensus(assign)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 1L, 2L -> 1L, 1L -> 1L))
  }

  test("clusters: driver and distributed paths agree on a random graph incl. string ids") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(200)((s"d${rnd.nextInt(80)}", s"d${rnd.nextInt(80)}"))
      .filter(p => p._1 != p._2)
    val ids = (0 until 100).map(i => s"d$i").toDF("doc_id")
    val pairs = edges.toDF("id_a", "id_b")
    val drv = Dedup.clusters(ids, "doc_id", pairs)
      .as[(String, String)].collect().toMap
    val dist = SparkTestSession.withConf(DriverFold.Conf, "0")(
      Dedup.clusters(ids, "doc_id", pairs).as[(String, String)].collect().toMap)
    assert(drv == dist)
    // min-label invariant: every label <= its id, every label is its own label
    assert(drv.forall { case (id, c) => c <= id && drv(c) == c })
    // non-BMP ids: Spark min() orders by UTF-8 bytes, where U+10000
    // sorts ABOVE U+FFFF (opposite of Java UTF-16 compareTo) — both
    // paths must still pick the same representative
    val exotic = Seq("￿", "𐀀").toDF("doc_id")
    val ep = Seq(("￿", "𐀀")).toDF("id_a", "id_b")
    val eDrv = Dedup.clusters(exotic, "doc_id", ep).as[(String, String)].collect().toMap
    val eDist = SparkTestSession.withConf(DriverFold.Conf, "0")(
      Dedup.clusters(exotic, "doc_id", ep).as[(String, String)].collect().toMap)
    assert(eDrv == eDist)
    assert(eDrv.values.toSet == Set("￿")) // the UTF-8 min
  }

  test("clusters: the distributed path does not recompute its loop after returning") {
    // two 6-node paths need several convergence rounds of min-label
    // steps; the returned labels must be a snapshot materialized BEFORE
    // the loop's caches are dropped, so the caller's first action reads
    // it and runs a few stages, not the loop again
    val ids = (1L to 12L).toDF("doc_id")
    val pairs = (1L to 11L).filter(_ != 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    def stagesOf[A](f: => A): (A, Int) = {
      org.apache.spark.ListenerDrain(sc)
      val before = stages.get
      val a = f
      org.apache.spark.ListenerDrain(sc)
      (a, stages.get - before)
    }
    sc.addSparkListener(listener)
    try {
      val (got, loopStages) = stagesOf(
        SparkTestSession.withConf(DriverFold.Conf, "0")(Dedup.clusters(ids, "doc_id", pairs)))
      val snapshots = got.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
      assert(snapshots.nonEmpty && snapshots.forall(_.isCheckpointed),
        "the label snapshot must be materialized when clusters returns")
      val (labels, actionStages) = stagesOf(got.as[(Long, Long)].collect().toMap)
      assert(labels == (1L to 12L).map(i => i -> (if (i <= 6L) 1L else 7L)).toMap)
      assert(actionStages * 4 < loopStages,
        s"the first action ran $actionStages stages against the loop's $loopStages")
    } finally sc.removeSparkListener(listener)
  }

  test("clusters: a 16-node path converges distributed to the driver fold's labels") {
    // each min-label step reads the previous labels twice: unless the
    // loop cuts the plan at every check, it doubles per step, and a path
    // this long (15 hops to the min) exhausts the heap while Spark
    // builds the plan
    val ids = (1L to 20L).toDF("doc_id")
    val pairs = (1L until 16L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def labels = Dedup.clusters(ids, "doc_id", pairs).as[(Long, Long)].collect().toMap
    val drv = labels
    assert(drv == (1L to 20L).map(i => i -> (if (i <= 16L) 1L else i)).toMap)
    assert(SparkTestSession.withConf(DriverFold.Conf, "0")(labels) == drv)
  }

  test("minhash bucket cap drops degenerate buckets, keeps discriminative ones") {
    // 30 identical boilerplate docs (every band bucket has 30 members) +
    // one planted near-dup pair with distinct text
    val boiler = (1L to 30L).map(i => (i, "the same boilerplate text repeated again and again"))
    val pair = Seq(
      (100L, "unique alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "unique alpha beta gamma delta epsilon zeta eta iota"))
    val df = (boiler ++ pair).toDF("doc_id", "text")
    val capped = Dedup.nearDupMinhash(df, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.3, maxBucketSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.contains((100L, 101L))) // small-bucket pair survives
    assert(!capped.exists(p => p._1 <= 30L)) // degenerate bucket suppressed
    val uncapped = Dedup.nearDupMinhash(df, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.3, maxBucketSize = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L))) // without the cap they all pair
  }

  test("banded-family skew caps default ON: a planted hot bucket is dropped without opting in") {
    // 5000 identical boilerplate docs: every minhash band bucket (and
    // every simhash chunk bucket) has 5000 members — past the 4096
    // default cap, so a caller taking defaults gets no quadratic
    // self-join inside it. The discriminative pair still pairs.
    val boiler = (1L to 5000L).map(i => (i, "the same boilerplate text repeated again and again"))
    val pair = Seq(
      (9001L, "unique alpha beta gamma delta epsilon zeta eta theta"),
      (9002L, "unique alpha beta gamma delta epsilon zeta eta iota"))
    val df = (boiler ++ pair).toDF("doc_id", "text").repartition(8)
    val mh = Dedup.nearDupMinhash(df, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mh.contains((9001L, 9002L)))
    assert(!mh.exists(p => p._1 <= 5000L), "default cap left the hot minhash bucket live")
    val sh = Dedup.nearDupSimhash(df, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!sh.exists(p => p._1 <= 5000L), "default cap left the hot simhash bucket live")
  }

  test("ngram block cap keeps a hot-token block sub-quadratic") {
    // 10k docs that all share (lenband, t0): same first token "the" and
    // texts of one length band — the web-text hot-block shape. Uncapped,
    // the block self-join would generate ~50M candidate pairs; with the
    // default cap the block is dropped outright. A small discriminative
    // block (distinct t0) must still pair.
    val hot = (1L to 10000L).map(i =>
      (i, s"the document number $i has some middling content body x$i"))
    val pair = Seq(
      (20001L, "unique alpha beta gamma delta epsilon zeta eta theta"),
      (20002L, "unique alpha beta gamma delta epsilon zeta eta iota"))
    val df = (hot ++ pair).toDF("doc_id", "text").repartition(8)
    val t0 = System.nanoTime()
    val capped = Dedup.nearDupNgram(df, "doc_id", "text", k = 3, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val secs = (System.nanoTime() - t0) / 1e9
    assert(capped.contains((20001L, 20002L))) // small block survives
    assert(!capped.exists(p => p._1 <= 10000L)) // hot block suppressed
    // sub-quadratic in practice: dominated by the narrow shingle pass,
    // not a 50M-pair self-join (which takes minutes at this size)
    assert(secs < 60.0, f"degenerate block took $secs%.1f s — cap not effective")
    // the cap is opt-out-able for small curated corpora
    val uncappedSmall = Dedup.nearDupNgram(docs, "doc_id", "text",
      k = 3, threshold = 0.3, maxBlockSize = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncappedSmall.contains((1L, 4L)))
  }

  test("crossDocNgramStats: shared shingles counted, unique docs at zero ratio") {
    val shared = "alpha beta gamma delta epsilon"
    val df = Seq(
      (1L, shared + " one two three four five"),
      (2L, shared + " six seven eight nine ten"),
      (3L, "totally different words with no overlap at all here")
    ).toDF("doc_id", "text")
    val out = Dedup.crossDocNgramStats(df, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // docs 1/2: 6 shingles each (10 tokens, k=5), exactly one shared
    // ("alpha beta gamma delta epsilon")
    assert(out(1L) == (6L, 1L, 1.0 / 6.0))
    assert(out(2L) == (6L, 1L, 1.0 / 6.0))
    assert(out(3L)._2 == 0L && out(3L)._3 == 0.0)
  }

  test("contaminationAgainst: benchmark shingles flagged per doc, clean docs at zero") {
    val leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, leak),                                                   // fully contained in benchmark
      (2L, leak + " plus extra tokens beyond the benchmark set"),   // partial overlap
      (3L, "entirely clean text with no benchmark overlap at all")  // clean
    ).toDF("doc_id", "text")
    val bench = Seq(Tuple1(leak + " and some more benchmark material")).toDF("text")
    val out = Dedup.contaminationAgainst(corpus, bench, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1: 6 shingles (10 tokens, k=5), all 6 inside the benchmark text
    assert(out(1L) == (6L, 6L))
    // doc 2 shares exactly doc 1's 6 shingles, its tail shingles are new
    assert(out(2L)._1 > 6L && out(2L)._2 == 6L)
    assert(out(3L)._2 == 0L)
  }

  test("embedding near-dup finds identical and near-identical vectors") {
    val v = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val v2 = v.clone(); v2(0) = v2(0) + 0.01f
    val far = Array.tabulate(16)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((1L, v), (2L, v2), (3L, far), (4L, v)).toDF("vec_id", "embedding")
    val pairs = Dedup.nearDupEmbedding(df, "vec_id", "embedding",
      bits = 4, tables = 8, threshold = 0.99, dim = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("semanticDedupPairsAgainstIndex: batch probes accepted cells only; cap drops hot cell") {
    // accepted corpus: two directions; batch: one near-dup of each + a novel
    val accepted = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, Array(0.999f, 0.04f, 0f, 0f)), // ~dup of 1
      (11L, Array(0.04f, 0.999f, 0f, 0f)), // ~dup of 2
      (12L, Array(0f, 0f, 1f, 0f))         // novel
    ).toDF("vec_id", "embedding")
    val cents = Similarity.fitIvfCentroids(accepted, "vec_id", "embedding", nlist = 2)
    val idx = Dedup.semanticCellIndex(accepted, "vec_id", "embedding", cents)
    val pairs = Dedup.semanticDedupPairsAgainstIndex(
      batch, idx, "vec_id", "embedding", cents, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 1L), (11L, 2L)))
    val kept = batch.join(
        Dedup.semanticDedupPairsAgainstIndex(
          batch, idx, "vec_id", "embedding", cents, threshold = 0.9)
          .select(col("id_a").as("vec_id")),
        Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(12L))
    // a hot cell past the cap is dropped on BOTH sides: cap=1 suppresses
    // every multi-member cell, so no pairs survive from them
    val hotAccepted = (100L to 110L).map(i => (i, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val hotIdx = Dedup.semanticCellIndex(hotAccepted, "vec_id", "embedding", cents)
    val capped = Dedup.semanticDedupPairsAgainstIndex(
      batch, hotIdx, "vec_id", "embedding", cents, threshold = 0.9, maxCellSize = 1)
      .count()
    assert(capped == 0L)
  }

  test("semanticDedup: clustered config finds planted duplicates, keeps representatives") {
    // two clusters of directions; ids 0/1 identical, 2 a near-copy of
    // them, 10/11 identical in the other cluster, 20 unrelated
    def vec(base: Array[Double], eps: Double, j: Int): Array[Double] =
      base.zipWithIndex.map { case (x, i) => x + (if (i == j) eps else 0.0) }
    val a = Array(1.0, 0.0, 0.0, 0.0)
    val b = Array(0.0, 1.0, 0.0, 0.0)
    val df = Seq(
      0L -> a, 1L -> a, 2L -> vec(a, 0.2, 3), // cos(a,2) ~ 0.981 < 0.99
      10L -> b, 11L -> b,
      20L -> Array(0.0, 0.0, 1.0, -1.0)
    ).toDF("vec_id", "embedding")
    // production-shaped: nlist > 1; identical vectors ALWAYS share a
    // cell (same nearest centroid), so exact-duplicate recall is 1.0
    val pairs = Dedup.semanticDedupPairs(df, "vec_id", "embedding",
      nlist = 2, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((10L, 11L)))
    assert(!pairs.exists(p => p._1 == 20L || p._2 == 20L))
    val kept = df.join(
        Dedup.nonRepresentatives(Dedup.semanticDedupPairs(df, "vec_id", "embedding",
          nlist = 2, threshold = 0.99)).select(col("id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().toSet
    // min-id representative per component; 2 survives the 0.99 bar
    assert(kept == Set(0L, 2L, 10L, 20L))
    // nlist = 1 (the oracle config) degrades to exhaustive all-pairs:
    // a superset of any clustered config's pairs at the same threshold
    val allPairs = Dedup.semanticDedupPairs(df, "vec_id", "embedding",
      nlist = 1, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.subsetOf(allPairs))
  }

  test("cdcChunkTable: chunks tile the doc; boundaries shift WITH content") {
    // this text yields 4 content chunks at (w=8, divisor=64) — cuts at
    // 62/147/191/318 (verified against the window-hash definition)
    val base = "the quick brown fox jumps over the lazy dog while seventy seven " +
      "wild geese wander westward over frozen rivers carrying bundles of " +
      "letters to distant villages under a pale winter moon tonight again " +
      "and the band played waltzing matilda as the ship pulled away from " +
      "the quay in the early morning light of a cold grey dawn"
    val df = Seq((1L, base), (2L, "tiny"), (3L, "")).toDF("doc_id", "text")
    val rows = Dedup.cdcChunkTable(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val d1 = rows.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.length == 4)
    assert(d1.head._3 == 1L && d1.map(_._4).sum == base.length)
    d1.sliding(2).foreach {
      case Array(a, b) => assert(b._3 == a._3 + a._4) // contiguous tiling
      case _ =>
    }
    // sub-window doc = one whole chunk; empty doc = no chunks
    val d2 = rows.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._4 == 4L)
    assert(!rows.exists(_._1 == 3L))
    // boundary-shift resistance: a 3-char prefix insertion shifts every
    // content cut by exactly 3, so all chunks EXCEPT the first are
    // byte-identical (fixed-width chunking would keep none of them)
    val shifted = Dedup.cdcChunkTable(
        Seq((9L, "XY " + base)).toDF("doc_id", "text"), "doc_id", "text")
      .collect().sortBy(_.getLong(1)).map(_.getLong(4)).toSeq
    assert(shifted.length == d1.length)
    assert(shifted.tail == d1.map(_._5).toSeq.tail)
    assert(shifted.head != d1.head._5)
  }

  test("sourceOverlapMatrix: distinct shared fingerprints per source pair, nulls drop") {
    val df = Seq(
      ("A", "x y"), ("A", " X  Y "), ("A", "q r"), // dup within A counts once
      ("B", "x y"), ("B", "z"),
      ("C", "z"), ("C", "x y"),
      (null.asInstanceOf[String], "x y"), ("D", null.asInstanceOf[String])
    ).toDF("source", "text")
    val got = Dedup.sourceOverlapMatrix(df, "text", "source")
      .as[(String, String, Long)].collect().toSet
    // "x y" in A,B,C (normalization folds " X  Y "); "z" in B,C
    assert(got == Set(("A", "B", 1L), ("A", "C", 1L), ("B", "C", 2L)))
  }

  test("snapshotDelta: added/removed/changed/unchanged incl. null fingerprints") {
    import spark.implicits._
    val oldW = Seq((1L, Some(10L)), (2L, Some(20L)), (3L, Some(30L)), (5L, None: Option[Long]))
      .toDF("doc_id", "fp")
    val newW = Seq((2L, Some(20L)), (3L, Some(31L)), (4L, Some(40L)), (5L, None: Option[Long]))
      .toDF("doc_id", "fp")
    val got = Dedup.snapshotDelta(oldW, newW, "doc_id", "fp")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "removed",
      2L -> "unchanged",
      3L -> "changed",
      4L -> "added",
      5L -> "unchanged")) // null fp on both sides: presence decides, null-safe equality
  }

  test("splitLeakageAudit: cross-split pairs flag, same-split stay diagonal, docs dedup") {
    import spark.implicits._
    // planted pairs: (1,2) train-test leak, (5,6) val-train leak,
    // (3,4) and (3,6) both train-train — doc 3 shared across two
    // diagonal pairs so n_docs must DEDUP (3 docs, not 4)
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (3L, 6L)).toDF("id_a", "id_b")
    val asg = Seq(
      (1L, "train"), (2L, "test"), (3L, "train"),
      (4L, "train"), (5L, "val"), (6L, "train")
    ).toDF("doc_id", "split")
    val got = Dedup.splitLeakageAudit(pairs, asg, "doc_id", "split")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got == Map(
      ("test", "train") -> ((1L, 2L, true)),
      ("train", "train") -> ((2L, 3L, false)),
      ("train", "val") -> ((1L, 2L, true))))
    // the remediation detail: only the leaked pairs, per-side labels
    val det = Dedup.splitLeakagePairs(pairs, asg, "doc_id", "split")
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(det == Set((1L, 2L), (5L, 6L)))
  }

  test("licensePropagation: most-restrictive wins per cluster, unknowns assume worst") {
    import spark.implicits._
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L),
      (7L, 7L), (8L, 7L)).toDF("id", "cluster")
    val lic = Seq(
      (1L, "permissive"), (2L, "copyleft"), (3L, "permissive"),
      (4L, "permissive"), (5L, "unlisted"), (6L, "public"),
      (7L, "weird-b"), (8L, "weird-a")
    ).toDF("doc_id", "license")
    val got = Dedup.licensePropagation(asg, lic, "doc_id", "license",
        Seq("public", "permissive", "copyleft"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(2), r.getLong(3), r.getString(4), r.getLong(5),
          r.getBoolean(6)))).toMap
    assert(got(1L) === (("permissive", 1L, "copyleft", 2L, true)))
    assert(got(2L) === (("copyleft", 2L, "copyleft", 2L, false)))
    assert(got(3L)._5, "the second permissive member upgrades too")
    assert(got(4L) === (("permissive", 1L, "permissive", 1L, false)),
      "a singleton cluster keeps its own license")
    // unknown strings rank above every known license
    assert(got(5L) === (("unlisted", 3L, "unlisted", 3L, false)))
    assert(got(6L) === (("public", 0L, "unlisted", 3L, true)))
    // two unknowns tie at the top: GREATEST string wins deterministically
    assert(got(7L)._3 === "weird-b" && got(8L)._3 === "weird-b")
    intercept[IllegalArgumentException](
      Dedup.licensePropagation(asg, lic, "doc_id", "license", Nil))
    intercept[IllegalArgumentException](
      Dedup.licensePropagation(asg, lic, "doc_id", "license", Seq("a", "a")))
  }

  test("nearDupHubs: exact top-k by degree with the id-ascending tie rule") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)).toDF("id_a", "id_b")
    // degrees: 1 -> 3, 2 -> 2, 3 -> 2, 4 -> 1
    val top2 = Dedup.nearDupHubs(pairs, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top2 == Seq((1L, 3L), (2L, 2L)),
      "the degree-2 tie must break to the smaller id")
    val top3 = Dedup.nearDupHubs(pairs, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top3 == Seq((1L, 3L), (2L, 2L), (3L, 2L)))
    intercept[IllegalArgumentException](Dedup.nearDupHubs(pairs, k = 0))
  }

  test("scrubLeakedDocs: drops the scrub-side docs of leaked pairs; re-audit is train-clean") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (3L, 6L)).toDF("id_a", "id_b")
    val asg = Seq(
      (1L, "train"), (2L, "test"), (3L, "train"),
      (4L, "train"), (5L, "val"), (6L, "train")
    ).toDF("doc_id", "split")
    // leaked pairs (1,2) and (5,6): train sides are docs 1 and 6
    val clean = Dedup.scrubLeakedDocs(pairs, asg, "doc_id", "split")
    assert(clean.select("doc_id").as[Long].collect().toSet == Set(2L, 3L, 4L, 5L))
    // removal is closed: the re-audit has no cross-split row at all
    // here (the only survivor pair is train-train (3,4))
    val re = Dedup.splitLeakageAudit(pairs, clean, "doc_id", "split")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(re == Set(("train", "train", 1L)))
    // scrubbing a different split pays with THAT split: scrub=test
    // drops doc 2 only; the val-train leak remains and is reported
    val cleanT = Dedup.scrubLeakedDocs(pairs, asg, "doc_id", "split", scrub = "test")
    assert(cleanT.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L, 5L, 6L))
    val reT = Dedup.splitLeakageAudit(pairs, cleanT, "doc_id", "split")
      .filter(col("is_leak")).count()
    assert(reT === 1L)
  }

  test("containmentPairs: near-subset pair found at a Jaccard symmetric misses") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon"
    val big = small + " " + (1 to 40).map(i => s"filler$i word$i").mkString(" ")
    val df = Seq(
      (1L, small),          // fully contained in 2
      (2L, big),
      (3L, "unrelated text entirely different tokens")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6)))
    assert(got.length == 1)
    val (a, b, shared, contA, _) = got.head
    assert((a, b) == ((1L, 2L)))
    assert(contA == 1.0, s"small doc fully contained, got $contA") // all of A's shingles in B
    assert(shared == 3L) // 5 tokens, k=3 -> 3 shingles
    // the symmetric measure would have rejected this pair at any
    // reasonable threshold: jaccard = 3 / (3 + 83 - 3) < 0.04
    val jac = Dedup.nearDupMinhash(df, "doc_id", "text", k = 3, numHashes = 64,
      bands = 64, threshold = 0.5, maxBucketSize = 0).count()
    assert(jac == 0L)
  }

  test("exact-collapse prepass: minhash and fingerprint outputs equal the uncollapsed paths") {
    import spark.implicits._
    // dup-heavy corpus: 3 copies each of 4 distinct docs (two of them a
    // near-dup pair), one null-text doc, one short doc duplicated twice
    val base = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "alpha beta gamma delta epsilon zeta eta iota", // near-dup of the first
      "completely different content about other things entirely",
      "third subject matter with its own vocabulary here")
    val rows = (for {
      (t, d) <- base.zipWithIndex
      c <- 0 until 3
    } yield (d * 100L + c, t)) ++
      Seq((900L, null.asInstanceOf[String]), (901L, "tiny"), (902L, "tiny"))
    val df = rows.toDF("doc_id", "text")

    def canonJ(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mhOld = canonJ(Dedup.nearDupMinhash(df, "doc_id", "text", k = 3, numHashes = 64,
      bands = 16, threshold = 0.3, maxBucketSize = 0, collapseIdentical = false))
    val mhNew = canonJ(Dedup.nearDupMinhash(df, "doc_id", "text", k = 3, numHashes = 64,
      bands = 16, threshold = 0.3, maxBucketSize = 0))
    assert(mhNew == mhOld)
    assert(mhNew.contains((0L, 1L, 1.0))) // intra-group copies of doc 0
    assert(mhNew.exists { case (a, b, j) => a == 0L && b == 100L && j < 1.0 }) // expanded cross
    assert(mhNew.contains((901L, 902L, 1.0))) // short-doc single-shingle group
    assert(!mhNew.exists { case (a, b, _) => a == 900L || b == 900L }) // null text pairs nothing

    def canonH(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val shOld = canonH(Dedup.nearDupSimhash(df, "doc_id", "text", maxHamming = 3,
      maxBucketSize = 0, collapseIdentical = false))
    val shNew = canonH(Dedup.nearDupSimhash(df, "doc_id", "text", maxHamming = 3,
      maxBucketSize = 0))
    assert(shNew == shOld)
    assert(shNew.contains((0L, 1L, 0))) // identical docs at hamming 0

    val ngOld = canonJ(Dedup.nearDupNgram(df, "doc_id", "text", k = 3, threshold = 0.2,
      maxBlockSize = 0, collapseIdentical = false))
    val ngNew = canonJ(Dedup.nearDupNgram(df, "doc_id", "text", k = 3, threshold = 0.2,
      maxBlockSize = 0))
    assert(ngNew == ngOld)
    assert(ngNew.contains((0L, 1L, 1.0)))

    def canonE(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val edOld = canonE(Dedup.nearDupEditDistance(df, "doc_id", "text",
      maxBlockSize = 0, collapseIdentical = false))
    val edNew = canonE(Dedup.nearDupEditDistance(df, "doc_id", "text", maxBlockSize = 0))
    assert(edNew == edOld)
    assert(edNew.contains((0L, 1L, 0L, base.head.length.toLong))) // intra-group copies
    assert(edNew.exists { case (a, b, d, _) => a == 0L && b == 100L && d > 0L }) // expanded cross

    def canonC(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toSet
    for (cap <- Seq(0, 3)) { // uncapped AND a cap the dup groups exceed
      val ctOld = canonC(Dedup.containmentPairs(df, "doc_id", "text", k = 3,
        threshold = 0.3, maxShingleDocs = cap, collapseIdentical = false))
      val ctNew = canonC(Dedup.containmentPairs(df, "doc_id", "text", k = 3,
        threshold = 0.3, maxShingleDocs = cap))
      assert(ctNew == ctOld, s"containment divergence at cap=$cap")
    }
  }

  test("decontaminateBloom == contaminationAgainst exactly, at any fpp") {
    import spark.implicits._
    val bench = Seq("the quick brown fox jumps over the lazy dog tonight")
      .toDF("text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"), // heavy hit
      (2L, "quick brown fox jumps over something else entirely here"),   // partial
      (3L, "no overlap with anything in the benchmark suite at all"),    // "the" 5-grams? no
      (4L, "completely disjoint vocabulary alpha beta gamma delta"),
      (5L, "")                                                           // degenerate
    ).toDF("doc_id", "text")
    def canon(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val exact = canon(Dedup.contaminationAgainst(corpus, bench, "doc_id", "text", k = 5))
    // tight and absurdly loose fpp both reproduce the exact output —
    // false positives cost a join row, never a wrong answer
    assert(canon(Dedup.decontaminateBloom(corpus, bench, "doc_id", "text", k = 5)) == exact)
    assert(canon(Dedup.decontaminateBloom(corpus, bench, "doc_id", "text", k = 5,
      fpp = 0.5)) == exact)
    // sanity on the fixture itself: doc 1 contaminated, doc 4 clean
    val m = exact.map(t => t._1 -> t._3).toMap
    assert(m(1L) > 0L && m(4L) == 0L)
  }

  test("containmentPairs collapse expansion preserves per-side orientation") {
    import spark.implicits._
    // group {1, 20} shares a text; rep 1 pairs with doc 10. Expanding
    // (1,10) to member 20 flips the normalized order: (10,20) must
    // carry doc 10's sizes on the A side — containment is asymmetric,
    // so an unswapped expansion is WRONG data, not a formatting nit
    // (caught at sf0.1 by the oracle gate, invisible at sf0.01)
    val t2 = "a b c d e f" // 4 shingles at k=3
    val t1 = "a b c d e"   // 3 shingles, all inside t2
    val df = Seq((1L, t2), (10L, t1), (20L, t2)).toDF("doc_id", "text")
    def canon(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toSet
    val expected = Set(
      (1L, 10L, 3L, 4L, 3L, 0.75, 1.0),
      (1L, 20L, 4L, 4L, 4L, 1.0, 1.0),
      (10L, 20L, 3L, 3L, 4L, 1.0, 0.75))
    assert(canon(Dedup.containmentPairs(df, "doc_id", "text", k = 3,
      threshold = 0.5)) == expected)
    assert(canon(Dedup.containmentPairs(df, "doc_id", "text", k = 3,
      threshold = 0.5, collapseIdentical = false)) == expected)
  }

  test("containmentPairs: df cap drops boilerplate shingles from candidate generation") {
    import spark.implicits._
    // every doc shares the same 3-token prefix -> that shingle's df = 4
    val df = (1L to 4L).map(i => (i, s"common prefix here unique$i tail$i")).toDF("doc_id", "text")
    val uncapped = Dedup.containmentPairs(df, "doc_id", "text", k = 3, threshold = 0.1,
      maxShingleDocs = 0)
    assert(uncapped.count() > 0) // the shared shingle pairs everything
    val capped = Dedup.containmentPairs(df, "doc_id", "text", k = 3, threshold = 0.1,
      maxShingleDocs = 3) // df=4 > 3 -> boilerplate shingle dropped
    assert(capped.count() == 0)
  }

  test("electRepresentatives: best score wins, ties by id, null scores never win") {
    import spark.implicits._
    val clustersDf = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L), // cluster 10
      (4L, 40L), (5L, 40L),            // cluster 40: tied scores
      (6L, 60L)                        // singleton, null score
    ).toDF("id", "cluster")
    val scores = Seq(
      (1L, Some(5.0)), (2L, Some(9.0)), (3L, None),
      (4L, Some(7.0)), (5L, Some(7.0)),
      (6L, None)
    ).toDF("doc_id", "q")
    val got = Dedup.electRepresentatives(clustersDf, scores, "doc_id", "q")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(10L) == ((2L, 9.0)))  // highest score, null member ignored
    assert(got(40L) == ((4L, 7.0)))  // tie -> lowest id
    assert(!got.contains(60L))       // all-null cluster elects nobody
  }

  test("pairThresholdSweep: jaccard histogram bands, top band clamps 1.0") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L, 0.05), (3L, 4L, 0.14), (5L, 6L, 0.95), (7L, 8L, 1.0), (9L, 10L, 0.5)
    ).toDF("id_a", "id_b", "jaccard")
    val got = Dedup.pairThresholdSweep(pairs, nbands = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 1L, 1L -> 1L, 5L -> 1L, 9L -> 2L)) // 1.0 clamps to band 9
  }

  test("forgetPropagate: seeds delete their whole cluster, audited by status") {
    import spark.implicits._
    val clustersDf = Seq(
      (1L, 1L), (2L, 1L),  // cluster 1: seed 2 -> 1 propagated
      (3L, 3L),            // singleton kept
      (4L, 4L), (5L, 4L),  // cluster 4: untouched
      (6L, 6L)             // singleton seed
    ).toDF("id", "cluster")
    val seeds = Seq(2L, 6L, 6L, 99L).toDF("doc_id") // dup + unknown id are inert
    val got = Dedup.forgetPropagate(clustersDf, seeds, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(
      1L -> "propagated", 2L -> "seed", 3L -> "kept",
      4L -> "kept", 5L -> "kept", 6L -> "seed"))
  }

  test("nearDupEditDistance: relative threshold, same-block only, prefilter harmless") {
    val docs = Seq(
      (1L, "hello world example text"),
      (2L, "hello world exampel text"),   // 2 swaps -> dist 2 of 24 chars
      (3L, "hello world totally different content here entirely"),
      (4L, "zebra unrelated first token")  // different t0 block
    ).toDF("doc_id", "text")
    val got = Dedup.nearDupEditDistance(docs, "doc_id", "text", maxDistPct = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet === Set((1L, 2L)))
    assert(got((1L, 2L)) === 2L)
    // tighter threshold drops the pair
    assert(Dedup.nearDupEditDistance(docs, "doc_id", "text", maxDistPct = 5).count() === 0)
  }

  test("nearDupEditDistance: NULL texts never pair, collapsed == uncollapsed") {
    // levenshtein(null, x) is NULL and fails every filter, so the
    // uncollapsed join drops null-text rows; the identical-text collapse
    // must agree — its groupBy would otherwise treat NULL __t as one
    // equal-text group and declare all null rows mutual dist-0 dups
    val docs = Seq(
      (1L, Some("hello world example text")),
      (2L, Some("hello world exampel text")),
      (3L, Option.empty[String]),
      (4L, Option.empty[String]),
      (5L, Option.empty[String])
    ).toDF("doc_id", "text")
    def pairs(collapse: Boolean) =
      Dedup.nearDupEditDistance(docs, "doc_id", "text", maxDistPct = 10,
        collapseIdentical = collapse)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val collapsed = pairs(collapse = true)
    assert(collapsed === pairs(collapse = false),
      "collapse must be result-identical on null-bearing corpora")
    assert(collapsed.map(p => (p._1, p._2)) === Set((1L, 2L)),
      "no pair may involve a null-text row")
  }

  test("nearDupEditDistance: measured blocking recall on planted pairs, incl. edits inside the prefix") {
    // the RecallProbe move for the edit-distance family: a fixture with
    // KNOWN near-dup pairs — 16 suffix-edited (blocking-safe) and 10
    // edited INSIDE the first 10 chars (the blocking trade's loss mode)
    // — recall measured against the brute-force all-pairs truth, and
    // the lost set pinned to be EXACTLY the prefix-edited plants.
    val words = Seq("amber", "basil", "cedar", "delta", "ember", "gamma",
      "hazel", "irons", "jumbo", "karma", "lemon", "mango", "noble",
      "ocean", "piano", "raven", "sonar", "tulip", "umbra", "vivid",
      "wharf", "xenon", "yacht", "zebra", "coral", "fudge")
    def mkBase(i: Int) =
      s"${words(i)} ${words((i + 7) % 26)} ${words((i + 13) % 26)} ${words((i + 19) % 26)} headline"
    val rows = (0 until 26).map(i => (i.toLong * 2, mkBase(i))) ++
      (0 until 16).map(i =>
        (i.toLong * 2 + 1, mkBase(i).replace("headline", "headlines"))) ++
      (16 until 26).map(i => (i.toLong * 2 + 1, mkBase(i).updated(1, 'x')))
    val fixture = rows.toDF("doc_id", "text")
      .withColumn("pblock", substring(col("text"), 1, 10))
    val l = fixture.select(col("doc_id").as("id_a"), col("text").as("t_a"))
    val r = fixture.select(col("doc_id").as("id_b"), col("text").as("t_b"))
    val truth = l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .filter(levenshtein(col("t_a"), col("t_b")).cast("long") * 100L <=
        lit(15L) * greatest(length(col("t_a")), length(col("t_b"))).cast("long"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0 until 26).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    assert(truth === planted, "fixture must plant exactly the 26 intended pairs")
    val blocked = Dedup.nearDupEditDistance(fixture, "doc_id", "text",
      maxDistPct = 15, extraBlockCols = Seq("pblock"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blocked.subsetOf(truth), "blocking may only drop pairs, never invent")
    val suffixPairs = (0 until 16).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    assert(suffixPairs.subsetOf(blocked),
      "prefix-preserving edits must have recall 1.0 under (prefix, lenband, t0) blocks")
    assert(truth -- blocked ===
      (16 until 26).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet,
      "the ONLY lost pairs are the prefix-edited plants (the documented trade)")
    // the pinned floor: 16/26 on this worst-case-heavy mix; real title
    // corpora skew far more prefix-preserving (RecallProbe measures the
    // corpus number per round)
    assert(blocked.size.toDouble / truth.size >= 16.0 / 26 - 1e-9)
  }

  test("clusterWeights: 1e6 div size per member, singletons keep full mass") {
    val assignment = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // size-3 cluster
      (4L, 4L), (5L, 4L),           // size-2 cluster
      (6L, 6L)                      // singleton
    ).toDF("id", "cluster")
    val got = Dedup.clusterWeights(assignment)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((3L, 333333L)) && got(2L) === ((3L, 333333L)))
    assert(got(4L) === ((2L, 500000L)) && got(5L) === ((2L, 500000L)))
    assert(got(6L) === ((1L, 1000000L)))
    // every cluster contributes ~1 doc of mass (within integer-div loss)
    val eff = Dedup.clusterWeights(assignment)
      .agg(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("weight_micro")))
      .collect()(0).getLong(0)
    assert(eff === 333333L * 3 + 500000L * 2 + 1000000L)
  }
}
