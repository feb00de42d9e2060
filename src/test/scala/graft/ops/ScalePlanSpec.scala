package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.{broadcast, col, lit, sum}
import graft.SparkTestSession

/** Physical-plan guards for the scale contracts SCALE.md documents —
  * regressions that stay correct at test SF but die at 100 TB (a
  * global-order window funneling the table through one task, a percent
  * denominator as an empty-frame window) are caught here, not by the
  * value oracles.
  */
class ScalePlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def collectPlans(p: SparkPlan): Seq[SparkPlan] = {
    // AQE wraps plans with exchanges in AdaptiveSparkPlanExec, a LEAF
    // node — without unwrapping, every assertion below would pass
    // vacuously on exactly the plans (those with shuffles) it guards
    val deeper = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectPlans(a.inputPlan)
      case _ => p.children.flatMap(collectPlans)
    }
    (p +: deeper) ++ p.subqueries.flatMap(collectPlans)
  }

  /** A WindowExec with an empty partitionSpec funnels ALL rows through
    * one task — the canonical scale-killer. */
  private def unpartitionedWindows(df: DataFrame): Seq[WindowExec] =
    collectPlans(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }

  private def orders = Seq(
    (1L, 101.0), (2L, 250.0), (3L, 75.5), (4L, 600.0), (5L, 42.0),
    (6L, 101.0), (7L, 88.0), (8L, 910.0), (9L, 33.3), (10L, 77.0),
    (11L, 120.0), (12L, 305.0)
  ).toDF("o_orderkey", "o_totalprice")

  test("bucketSummary (b4_deciles) has no unpartitioned window") {
    val o = orders.withColumn("cents",
      org.apache.spark.sql.functions.floor(
        org.apache.spark.sql.functions.col("o_totalprice") * 100 + 0.5).cast("long"))
    val plan = Stats.bucketSummary(o, "cents", nBuckets = 4)
    assert(unpartitionedWindows(plan).isEmpty,
      "bucketSummary must assign buckets by boundary comparison, not a global window")
    // and it still buckets correctly: 12 rows over 4 buckets
    val rows = plan.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.values.sum == 12)
    assert(rows.keys.min >= 1 && rows.keys.max <= 4)
  }

  test("tClosenessSummary: cumulative window is partitioned by the cell") {
    val df = Seq(("a", "x", 1.0), ("a", "y", 5.0), ("b", "x", 9.0))
      .toDF("q1", "q2", "v")
    val plan = Privacy.tClosenessSummary(df, Seq("q1", "q2"), "v",
      lo = 0.0, hi = 10.0, nbins = 10)
    assert(unpartitionedWindows(plan).isEmpty,
      "the band cumulative must run per cell (≤ nbins frame), never corpus-wide")
  }

  test("momentsByGroup is one hash aggregate — no window at all") {
    val plan = Stats.momentsByGroup(orders, "o_totalprice", Seq("o_orderkey"))
    assert(collectPlans(plan.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }.isEmpty,
      "shape moments come from power sums in the groupBy, not a sorted window")
  }

  test("percent denominators are broadcast 1-row aggs, not empty-frame windows") {
    val freq = Tabulation.freqTable(orders.withColumn("g",
      org.apache.spark.sql.functions.col("o_orderkey") % 3), "g", None, 1)
    assert(unpartitionedWindows(freq).isEmpty)
  }

  test("packSequences' running sum is partitioned by shard, never global") {
    val docs = (0L until 40L).map(i => (i, "a b c d e")).toSeq.toDF("doc_id", "text")
    val plan = graft.scale.TextAnalysis.packSequences(docs, "doc_id", "text", 100, 4)
    assert(unpartitionedWindows(plan).isEmpty,
      "packing must cumsum within shards (the global-ntile trap)")
  }

  test("weightedQuantile windows are partitioned by the group key") {
    val df = orders.withColumn("g", org.apache.spark.sql.functions.col("o_orderkey") % 2)
      .withColumn("w", org.apache.spark.sql.functions.lit(1.0))
    val q = Stats.weightedQuantile(df, "o_totalprice", "w", Seq("g"), 0.5)
    assert(unpartitionedWindows(q).isEmpty)
  }

  test("quantileNormalize: the as-of merge window is slice-partitioned") {
    // the pooled-lattice cumulative windows stay global BY DESIGN
    // (bounded to MaxQuantileNormValues rows by the in-plan guard);
    // the as-of merge — the only window whose input multiplies by
    // |slices| — must partition by slice, so no GLOBAL window may
    // carry its suffix-min(__w)
    val df = orders
      .withColumn("s", org.apache.spark.sql.functions.col("o_orderkey") % 2)
      .withColumn("v", org.apache.spark.sql.functions.col("o_totalprice").cast("long"))
    val q = Stats.quantileNormalize(df, "s", "v")
    val globalMins = unpartitionedWindows(q)
      .filter(_.windowExpression.mkString.contains("min("))
    assert(globalMins.isEmpty,
      s"as-of merge window is global: ${globalMins.mkString}")
  }

  test("dedupLines elects keepers by aggregate, never a window over the line key") {
    val docs = (0L until 20L).map(i => (i, s"the\ncommon line\nuniq$i"))
      .toSeq.toDF("doc_id", "text")
    val plan = graft.scale.TextAnalysis.dedupLines(docs, "doc_id", "text")
    // a WindowExec over the line hash would funnel every copy of a hot
    // boilerplate line into one task — the shape the operator avoids
    val windows = collectPlans(plan.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.isEmpty,
      "line-keeper election must be a partial-agg struct-min, not a window")
  }

  test("Pq.encode is a narrow map: no shuffle, no window") {
    val vecs = (0L until 16L)
      .map(i => (i, Array.tabulate(8)(j => (i + j).toFloat))).toSeq
      .toDF("vec_id", "embedding")
    val model = graft.scale.Pq.syntheticModel(8, m = 2, k = 4)
    val plan = graft.scale.Pq.encode(vecs, "vec_id", "embedding", model)
    val exchanges = collectPlans(plan.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, "PQ encode must not shuffle — codes are row-local")
    assert(unpartitionedWindows(plan).isEmpty)
  }

  test("native bpeEncode is a narrow map: no shuffle, no window, one projection") {
    val docs = (0L until 20L).map(i => (i, "the cat sat")).toSeq.toDF("doc_id", "text")
    val merges = Seq(
      graft.scale.TextAnalysis.BpeMerge(0, "t", "h", 9),
      graft.scale.TextAnalysis.BpeMerge(1, "th", "e", 9))
    for (plan <- Seq(
      graft.scale.TextAnalysis.bpeEncode(docs, "doc_id", "text", merges),
      graft.scale.TextAnalysis.bpeTokens(docs, "doc_id", "text", merges))) {
      val exchanges = collectPlans(plan.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, "BPE application is row-local — no shuffle")
      assert(unpartitionedWindows(plan).isEmpty)
    }
  }

  test("packByCount windows partition by shard, never global") {
    val counted = (0L until 40L).map(i => (i, 7L)).toSeq.toDF("doc_id", "n_units")
    val plan = graft.scale.TextAnalysis.packByCount(counted, "doc_id", "n_units", 100, 4)
    assert(unpartitionedWindows(plan).isEmpty)
  }

  test("ANN per-query top-k epilogues are bounded aggregates, not windows") {
    val vecs = (0L until 32L)
      .map(i => (i, Array.tabulate(8)(j => (i * 7 + j * 3).toFloat))).toSeq
      .toDF("vec_id", "embedding")
    val queries = vecs.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val model = graft.scale.Pq.syntheticModel(8, m = 2, k = 4)
    // a per-query row_number window would hold a query's ENTIRE scored
    // corpus in one WindowExec task — the funnel BoundedTopKDouble
    // removes; integral ids must never plan a window at all
    val adc = graft.scale.Pq.adcTopK(vecs, queries, "vec_id", "embedding",
      "query_id", k = 3, model)
    assert(collectPlans(adc.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }.isEmpty,
      "adcTopK must rank via BoundedTopKDouble, not a per-query window")
    val knn = graft.scale.Similarity.knnExact(vecs, queries, "vec_id",
      "embedding", "query_id", k = 3)
    assert(collectPlans(knn.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }.isEmpty,
      "knnExact must rank via BoundedTopKDouble, not a per-query window")
  }

  test("semanticDedupPairs: quadratic stage ships id pairs, vectors never cross its shuffle") {
    val vecs = (0L until 48L)
      .map(i => (i, Array.tabulate(8)(j => ((i % 5) * 11 + j).toFloat))).toSeq
      .toDF("vec_id", "embedding")
    val plan = graft.scale.Dedup.semanticDedupPairs(vecs, "vec_id", "embedding",
      nlist = 3, threshold = 0.99)
    assert(unpartitionedWindows(plan).isEmpty)
    // the cell self-join's exchanges must carry (cell, id) — never the
    // embedding column (that is the id-pairs-then-fetch contract); the
    // vector fetch joins rejoin by id AFTER the quadratic stage
    val exchanges = collectPlans(plan.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val vecExchanges = exchanges.filter(
      _.child.output.map(_.name.toLowerCase).exists(_.contains("embedding")))
    // vectors may shuffle for the id-keyed fetch join, but any exchange
    // that carries BOTH pair ids is the self-join output — ban vectors
    vecExchanges.foreach { e =>
      val names = e.child.output.map(_.name.toLowerCase)
      assert(!(names.contains("id_a") && names.contains("id_b")),
        s"pair-stage exchange carries embeddings: ${names.mkString(",")}")
    }
  }

  test("tfidfTopK: one token-frame aggregate; doc_len rides the rank window's exchange") {
    val docs = (0L until 30L).map(i => (i, s"alpha beta gamma token$i delta"))
      .toSeq.toDF("doc_id", "text")
    val plan = graft.scale.TextAnalysis.tfidfTopK(docs, "doc_id", "text", k = 2)
    assert(unpartitionedWindows(plan).isEmpty)
    // exactly one aggregate reads the exploded (doc, token) stream: the
    // tf agg (dfreq aggregates the already-shrunk tf frame). The old
    // shape aggregated the explode twice (doc_len as a second pass).
    val aggs = collectPlans(plan.queryExecution.executedPlan).collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    // an agg "reads the explode directly" when a GenerateExec is
    // reachable below it WITHOUT passing another aggregate — every agg
    // higher on the lineage trivially has the explode somewhere in its
    // subtree, so a plain subtree test would count them all
    def reachesGenerate(p: SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.GenerateExec => true
      case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => false
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        reachesGenerate(a.inputPlan)
      case other => other.children.exists(reachesGenerate)
    }
    val explodeReaders = aggs.filter(_.children.exists(reachesGenerate))
    // the same logical agg appears per consumer branch (tf feeds both
    // the join and dfreq) and as partial/final pairs, each with fresh
    // expression ids — normalize ids away and count DISTINCT groupings
    val groupings = explodeReaders
      .map(_.groupingExpressions.map(_.toString.replaceAll("#\\d+", "")).toSet)
      .distinct
    assert(groupings.size <= 1,
      s"the exploded token frame feeds ${groupings.size} distinct aggregates — doc_len regressed to a second pass")
  }

  test("curate manifest windows are (split, shard)-partitioned, never global") {
    val docs = (0L until 40L).map(i =>
      (i, s"the u${i}a a u${i}b of u${i}c and u${i}d is u${i}e", s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
    val plan = graft.scale.Curation.curateCleaned(
      graft.scale.TextAnalysis.cleanCorpus(docs, "doc_id", "text", allowedLangs = Seq("en")),
      "doc_id", "text", "source", alpha = 0.5, totalBudget = 100L,
      splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      packBudget = 32, shards = 2)
    assert(unpartitionedWindows(plan).isEmpty,
      "curate's packing window must partition by (split, shard)")
    val wins = collectPlans(plan.queryExecution.executedPlan).collect {
      case w: WindowExec => w.partitionSpec.map(_.toString.replaceAll("#\\d+", ""))
    }
    assert(wins.nonEmpty && wins.forall(_.exists(_.contains("split"))),
      s"packing window must include split in its partition spec: $wins")
  }

  test("semantic index probe is a cell equi-join: no cartesian, no nested loop") {
    val accepted = (0L until 12L)
      .map(i => (i, Array.tabulate(4)(j => (i + j).toFloat))).toDF("vec_id", "embedding")
    val batch = (100L until 106L)
      .map(i => (i, Array.tabulate(4)(j => (i % 7 + j).toFloat))).toDF("vec_id", "embedding")
    val cents = graft.scale.Similarity.fitIvfCentroids(accepted, "vec_id", "embedding", nlist = 2)
    val plan = graft.scale.Dedup.semanticDedupPairsAgainstIndex(
      batch, graft.scale.Dedup.semanticCellIndex(accepted, "vec_id", "embedding", cents),
      "vec_id", "embedding", cents, threshold = 0.5)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "index probe degenerated to a cartesian product")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "index probe degenerated to a nested-loop join")
  }

  test("adcTopK shuffles codes, not vectors: corpus side carries no embedding") {
    val vecs = (0L until 16L)
      .map(i => (i, Array.tabulate(8)(j => (i * 3 + j).toFloat))).toSeq
      .toDF("vec_id", "embedding")
    val queries = vecs.filter(org.apache.spark.sql.functions.col("vec_id") < 2)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val model = graft.scale.Pq.syntheticModel(8, m = 2, k = 4)
    val plan = graft.scale.Pq.adcTopK(vecs, queries, "vec_id", "embedding",
      "query_id", k = 3, model)
    // every exchange in the plan must ship PQ codes / scalar outputs,
    // never the corpus embedding column (that is the ADC bandwidth win)
    val exchanges = collectPlans(plan.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges.foreach { e =>
      val shipped = e.child.output.map(_.name.toLowerCase)
      assert(!shipped.exists(_.contains("embedding")),
        s"corpus embedding crossed a shuffle: ${shipped.mkString(",")}")
    }
  }

  test("bm25TopK never shuffles the corpus: 1-row stats broadcast + TakeOrdered") {
    val docs = (0L until 20L)
      .map(i => (i, s"apple banana w$i x$i y$i")).toDF("doc_id", "text")
    val plan = graft.scale.TextAnalysis.bm25TopK(docs, "doc_id", "text", "apple banana", k = 5)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    // the only corpus-wide movement allowed is the 1-row stats agg's
    // single-partition exchange; a doc- or token-keyed repartition of
    // the corpus (the explode/join formulation) must not appear
    val wideExchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions > 1 => e
    }
    assert(wideExchanges.isEmpty,
      s"bm25 corpus pass must stay narrow, found: ${wideExchanges.map(_.nodeName)}")
    assert(unpartitionedWindows(plan).isEmpty)
    // top-k epilogue is a TakeOrdered, not a global sort
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "bm25 epilogue should be TakeOrderedAndProject")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      "bm25 must not globally sort the corpus")
  }

  test("maskRepeatedSpans: no cartesian/nested-loop, no unpartitioned window") {
    val docs = (0L until 20L)
      .map(i => (i, s"alpha beta gamma delta w$i x$i y$i z$i q$i")).toDF("doc_id", "text")
    val plan = graft.scale.TextAnalysis.maskRepeatedSpans(docs, "doc_id", "text", w = 4)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "span-dedup must join duplicated hashes by key, not cross")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "span-dedup degenerated to a nested-loop join")
    assert(unpartitionedWindows(plan).isEmpty)
  }

  test("packEfficiency: summary agg rides the pack window's shard exchange") {
    val docs = (0L until 40L).map(i => (i, "a b c d e f g")).toDF("doc_id", "text")
    val plan = graft.scale.TextAnalysis.packEfficiency(docs, "doc_id", "text",
      budget = 10, shards = 4)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    val shuffles = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    // one by-shard exchange feeds BOTH the running-sum window and the
    // per-shard aggregate — a second corpus shuffle means the groupBy
    // stopped reusing the window's partitioning
    assert(shuffles <= 1, s"expected the single shard exchange, got $shuffles")
    assert(unpartitionedWindows(plan).isEmpty)
  }

  test("expandEpochs: the allocation broadcasts to the corpus; no sort-merge") {
    val docs = (0L until 30L)
      .map(i => (i, s"src${i % 3}", "a b c d e")).toDF("doc_id", "source", "text")
    val alloc = graft.scale.Sampling.epochAllocation(docs, "text", "source",
      Map("src0" -> 2.0, "src1" -> 1.0), budgetTokens = 100L, maxEpochs = 3.0)
    val plan = graft.scale.Sampling.expandEpochs(docs, "doc_id", "source", alloc)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    // the |weights|-sized allocation must reach every corpus row as a
    // broadcast — a sort-merge join here would shuffle the corpus by
    // source (skew city: sources are few and huge at 100 TB)
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "allocation should broadcast-join the corpus")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "a sources-sized allocation must never sort-merge against the corpus")
  }

  test("curriculumBands: band map broadcasts back; the corpus never sorts globally") {
    val docs = (0L until 200L).map(i => (i, i * 37 % 1000)).toDF("id", "score")
    val plan = graft.scale.Sampling.curriculumBands(docs, "id", "score",
      bands = 10, grid = 64)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "bucket->band map should broadcast-join the bucketed corpus")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "a grid-sized map must never sort-merge against the corpus")
    // the only window is the grid-row running count — it must be the
    // histogram's (post-aggregate __b/__c attrs), never one carrying
    // the raw per-row id/score stream through a single task
    unpartitionedWindows(plan).foreach { w =>
      assert(!w.output.exists(a => a.name == "id" || a.name == "score" || a.name == "__s"),
        s"corpus-level unpartitioned window: ${w.simpleStringWithNodeId()}")
    }
  }

  test("hashedClassifierScore: model joins broadcast; the corpus never sorts globally") {
    val train = (0L until 16L)
      .map(i => (i, s"tok$i alpha beta", i % 2 == 0)).toDF("doc_id", "text", "lab")
    val model = graft.scale.TextAnalysis.hashedClassifierFit(train, "text", "lab", buckets = 32)
    val plan = graft.scale.TextAnalysis.hashedClassifierScore(train, "doc_id", "text", model, 32)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    // the model side must reach the token stream as a broadcast, never
    // a shuffled repartition join (the fixed-size-model property)
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "model should broadcast-join the exploded token stream")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "a buckets-sized model must never sort-merge against the corpus")
    assert(unpartitionedWindows(plan).isEmpty)
  }

  test("decontaminateBloom: benchmark joins broadcast, the corpus never sort-merges") {
    val corpus = (0L until 64L)
      .map(i => (i, s"tok$i alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma delta epsilon zeta").toDF("text")
    val plan = graft.scale.Dedup.decontaminateBloom(corpus, bench, "doc_id", "text", k = 5)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the eval-sized benchmark set must never sort-merge against the corpus")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    assert(unpartitionedWindows(plan).isEmpty)
  }

  test("readabilityTable is a narrow map: no shuffle, no window") {
    val docs = (0L until 20L).map(i => (i, "The cat sat. The dog ran!"))
      .toSeq.toDF("doc_id", "text")
    val plan = graft.scale.TextAnalysis.readabilityTable(docs, "doc_id", "text")
    val exchanges = collectPlans(plan.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, "readability scores are row-local — no shuffle")
    assert(unpartitionedWindows(plan).isEmpty)
  }

  test("forgetPropagate: both propagation joins broadcast, the corpus never sort-merges") {
    val clustersDf = (0L until 50L).map(i => (i, i / 5)).toSeq.toDF("id", "cluster")
    val seeds = Seq(3L, 17L).toDF("id")
    val plan = graft.scale.Dedup.forgetPropagate(clustersDf, seeds)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "deletion lists are tiny — the corpus-side frame must never sort-merge")
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]))
    assert(unpartitionedWindows(plan).isEmpty)
  }

  test("hardNegatives: anchor side broadcasts, epilogue is the bounded aggregate") {
    val vecs = (0L until 24L)
      .map(i => (i, Array.tabulate(4)(j => (i + j).toFloat), (i % 2).toInt)).toSeq
      .toDF("vec_id", "embedding", "label")
    val anchors = vecs.filter(org.apache.spark.sql.functions.col("vec_id") < 2)
      .select(org.apache.spark.sql.functions.col("vec_id").as("anchor_id"),
        org.apache.spark.sql.functions.col("embedding"),
        org.apache.spark.sql.functions.col("label"))
    val plan = graft.scale.Similarity.hardNegatives(
      vecs, anchors, "vec_id", "embedding", "label", "anchor_id", k = 3)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "the anchor batch must broadcast, never a partitioned cartesian")
    assert(unpartitionedWindows(plan).isEmpty,
      "per-anchor top-k must be the bounded aggregate, not a corpus-wide window")
  }

  test("spanCorruptionTable: window and aggregate are doc-partitioned, no cartesian") {
    val docs = (0L until 30L).map(i => (i, "a b c d e f g h i"))
      .toSeq.toDF("doc_id", "text")
    val plan = graft.scale.TextAnalysis.spanCorruptionTable(docs, "doc_id", "text")
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(unpartitionedWindows(plan).isEmpty,
      "the sentinel-index window must partition by document")
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("perplexityBuckets: boundary windows partition by language, compare is narrow") {
    val docs = (0L until 30L).map(i => (i, "aa bb cc", if (i % 2 == 0) "en" else "fr"))
      .toSeq.toDF("doc_id", "text", "lang")
    val plan = graft.scale.Curation.perplexityBuckets(docs, "doc_id", "text", "lang",
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0), "text",
      vocabSize = 100)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(unpartitionedWindows(plan).isEmpty,
      "the cumulative tercile window must partition by language")
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("a persisted classifier model scores without the refit's extra corpus scan") {
    // the fit-once contract (Models.saveHashedClassifier scaladoc):
    // embedding the un-persisted fit in a scoring plan re-reads the
    // corpus for the model branch; loading the parquet artifact must
    // drop that scan (the shape the composition queries rely on)
    val dir = java.nio.file.Files.createTempDirectory("plan-clf").toString
    (0L until 64L).map(i => (i, s"tok$i alpha beta gamma", i % 2 == 0))
      .toDF("doc_id", "text", "lab").write.parquet(s"$dir/docs.parquet")
    val docs = spark.read.parquet(s"$dir/docs.parquet")
    def corpusScans(df: DataFrame): Int =
      collectPlans(df.queryExecution.executedPlan).count {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("docs.parquet"))
        case _ => false
      }
    val fit = graft.scale.TextAnalysis.hashedClassifierFit(docs, "text", "lab", buckets = 32)
    graft.scale.Models.saveHashedClassifier(fit, s"$dir/model")
    val loaded = graft.scale.Models.loadHashedClassifier(spark, s"$dir/model")
    val direct =
      graft.scale.TextAnalysis.hashedClassifierScore(docs, "doc_id", "text", fit, 32)
    val persisted =
      graft.scale.TextAnalysis.hashedClassifierScore(docs, "doc_id", "text", loaded, 32)
    assert(corpusScans(persisted) < corpusScans(direct),
      s"loading the artifact should shed the model branch's corpus scan " +
        s"(persisted=${corpusScans(persisted)}, direct=${corpusScans(direct)})")
    // and bit-identical scores either way (the x_text_hashclf_saved gate,
    // asserted here at plan-test scale too)
    assert(persisted.collect().toSet == direct.collect().toSet)
  }

  test("rank-tier curation compose: tier table broadcasts, corpus side never sort-merges") {
    val edges = (0L until 400L).map(i => (i % 31, (i * 13 + 5) % 31)).toDF("src", "dst")
    val ranks = graft.scale.Graph.pageRank(edges, "src", "dst", iterations = 3)
    val tiers = graft.scale.Graph.rankTiers(ranks, Seq(500000L, 1000000L))
      .select(col("node"), col("tier"))
    val docs = (0L until 500L).map(i => (i, s"src${i % 7}", i % 31, 5L + i % 9))
      .toDF("doc_id", "source", "node", "tok")
    val plan = docs.join(org.apache.spark.sql.functions.broadcast(tiers), "node")
      .filter(col("tier") <= 1)
      .groupBy(col("source")).agg(sum(col("tok")).as("tokens_kept"))
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "the tier join must be a broadcast hash join")
    // scope the no-SMJ claim to the CORPUS side: the doc_id column must
    // never flow through a sort-merge join (the tier table broadcasts).
    // The rank fit's own node-keyed joins upstream are allowed to
    // shuffle — node sets are corpus-sized at scale, and since r11 the
    // fit's checkpointed inputs carry no size stats (so tiny test
    // graphs plan the same shuffle joins real graphs would).
    val smjWithDocs = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.output.exists(_.name == "doc_id") => j
    }
    assert(smjWithDocs.isEmpty,
      "the corpus must not sort-merge against the 64-row tier table")
  }

  test("role-aware turn dedup: election is an aggregate + equi-join, no cartesian, no turn-key window") {
    val convs = (0L until 300L).map(i =>
      (i % 40, i / 40 + 1, if (i % 2 == 0) "user" else "assistant", s"text ${i % 50}"))
      .toDF("conv_id", "turn", "role", "text")
    val plan = graft.scale.Conversations.turnDedupExact(convs)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]))
    assert(unpartitionedWindows(plan).isEmpty,
      "keeper election must never be a window over the turn key")
  }

  test("pageRank iterations are equi-joins: no cartesian, no nested loop, no global window") {
    val edges = (0L until 300L)
      .map(i => (i % 23, (i * 31 + 7) % 23)).toDF("src", "dst")
    val ranks = graft.scale.Graph.pageRank(edges, "src", "dst", iterations = 5)
    val nodes = collectPlans(ranks.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "pageRank degenerated to a cartesian product")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "pageRank degenerated to a nested-loop join")
    assert(unpartitionedWindows(ranks).isEmpty,
      "pageRank must not use any global-order window")
  }

  test("sliceEntropy: totals broadcast back; the token stream never sort-merges") {
    val docs = (0L until 200L).map(i => (i, s"s${i % 3}", s"tok${i % 40} alpha beta"))
      .toDF("doc_id", "source", "text")
    val plan = graft.scale.TextAnalysis.sliceEntropy(docs, "source", "text")
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "the |slices|-row totals must broadcast-join the (slice, token) counts")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the token-count stream must never sort-merge against a slice-sized table")
    assert(unpartitionedWindows(plan).isEmpty)
  }

  test("bpeDecodeAudit: doc-keyed gather, no cartesian, no global window") {
    val docs = (0L until 60L).map(i => (i, s"s${i % 2}", s"the cat ${i % 9}"))
      .toDF("doc_id", "source", "text")
    val merges = graft.scale.TextAnalysis.bpeFit(docs, "text", merges = 3)
    val vocab = graft.scale.TextAnalysis.bpeVocab(docs, "doc_id", "text", merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plan = graft.scale.TextAnalysis.bpeDecodeAudit(
      docs, "doc_id", "text", "source", merges, vocab)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    assert(unpartitionedWindows(plan).isEmpty,
      "the decode gather must be a hash aggregate, never a global-order window")
  }

  test("compactionPlan: the running sum is a dir-partitioned window, never global") {
    val man = (0L until 300L).map(i => (s"d${i % 11}", f"part-$i%04d", 100L + i))
      .toDF("dir", "path", "bytes")
    val plan = Layout.compactionPlan(man, "dir", "path", "bytes", targetBytes = 1000L)
    assert(unpartitionedWindows(plan).isEmpty,
      "a global-order window would funnel the whole manifest through one task")
  }

  test("coCitation and seedDistance: equi-joins only, no cartesian, no global window") {
    val edges = (0L until 300L).map(i => (i % 23, (i * 31 + 7) % 23)).toDF("src", "dst")
    val cocite = graft.scale.Graph.coCitation(edges, "src", "dst",
      maxOutDegree = 16, minCommon = 2)
    val cn = collectPlans(cocite.queryExecution.executedPlan)
    assert(!cn.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "the co-citation self-join must stay an equi-join on the shared source")
    assert(!cn.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]))
    assert(unpartitionedWindows(cocite).isEmpty)
    val seeds = (0L until 23L by 7L).toDF("node")
    val dist = graft.scale.Graph.seedDistance(edges, "src", "dst", seeds, maxHops = 4)
    val dn = collectPlans(dist.queryExecution.executedPlan)
    assert(!dn.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    assert(unpartitionedWindows(dist).isEmpty)
  }

  test("filterBlockedDomainSuffix is row-local: no shuffle; audit broadcasts the blocklist") {
    val docs = (0L until 100L).map(i => (i, s"see https://sub$i.news${i % 5}.example.com/p"))
      .toDF("doc_id", "text")
    val filtered = graft.scale.TextAnalysis.filterBlockedDomainSuffix(
      docs, "text", Seq("news2.example.com"))
    val fEx = collectPlans(filtered.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(fEx.isEmpty, "the literal-blocklist filter must be a narrow row-local map")
    val audit = graft.scale.TextAnalysis.blockedDomainAudit(
      docs, "doc_id", "text", Seq("news2.example.com", "dead.net").toDF("domain"))
    val nodes = collectPlans(audit.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "the blocklist must broadcast against the exploded suffix stream")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the corpus-side suffix stream must never shuffle on the suffix key")
    assert(unpartitionedWindows(audit).isEmpty)
  }

  test("saltAdvisor: broadcast 1-row total + TakeOrdered head, never a global sort") {
    val df = (0L until 500L).map(i => i % 17).toDF("k")
    val plan = Skew.saltAdvisor(df, "k", rowsPerTask = 32L, topK = 10)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "the 1-row total must ride a broadcast, not a cartesian product")
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "the head must be a top-K heap (TakeOrderedAndProject), not sort + limit")
    assert(unpartitionedWindows(plan).isEmpty)
  }

  private def tsEvents = (1 to 40).map { i =>
    (i % 4L, java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 00:00:00"),
      i.toLong, i * 1.5)
  }.toDF("user_id", "ts", "event_id", "value")

  test("TimeSeries: every window is key-partitioned; the lattice join is never cartesian") {
    val rs = TimeSeries.resampleGapFill(tsEvents, "user_id", "ts", "value", 86400L)
    assert(unpartitionedWindows(rs).isEmpty,
      "gap-fill windows must partition by the series key")
    val nodes = collectPlans(rs.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "the lattice joins observations on (key, bucket), never a cartesian")
    val lf = TimeSeries.lagFeatures(tsEvents, "user_id", "ts", "event_id", "value")
    assert(unpartitionedWindows(lf).isEmpty)
    // all lag + rolling features share ONE key-partitioned window pass
    assert(collectPlans(lf.queryExecution.executedPlan)
      .count(_.isInstanceOf[WindowExec]) === 1,
      "lag/delta/rolling features must fuse into a single WindowExec")
    val rd = TimeSeries.rollingDeviation(tsEvents, "user_id", "ts", "event_id", "value")
    assert(unpartitionedWindows(rd).isEmpty)
  }

  test("c4LineFilters is a narrow row-local pass: no shuffle, no window") {
    val docs = Seq((1L, "A clean sentence sits right here.\nshort")).toDF("doc_id", "text")
    val plan = graft.scale.WebFilters.c4LineFilters(docs, "text")
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]))
    assert(!nodes.exists(_.isInstanceOf[WindowExec]))
  }

  test("btStrengths: iteration epilogue is a broadcast max, never cartesian; no windows") {
    val games = (1 to 60).map(i => ((i % 5).toLong, ((i + 1) % 5).toLong))
      .toDF("winner", "loser").filter(col("winner") =!= col("loser"))
    val plan = graft.scale.Preferences.btStrengths(games, "winner", "loser", iterations = 2)
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "the 1-row max divisor must ride a broadcast, not a cartesian product")
    assert(unpartitionedWindows(plan).isEmpty)
  }

  test("rankNormalize windows are slice-partitioned over tie groups") {
    val df = (1 to 50).map(i => (s"s${i % 3}", (i % 7).toLong)).toDF("slice", "v")
    val plan = Stats.rankNormalize(df, "slice", "v")
    assert(unpartitionedWindows(plan).isEmpty,
      "the cumulative rank window must partition by the slice key")
  }

  test("spearmanCorr: global windows ride the tie lattices only; corpus joins broadcast; guard survives") {
    val df = orders.select(col("o_orderkey").as("x"),
      (col("o_orderkey") % 5).as("y"))
    val plan = Stats.spearmanCorr(df, "x", "y")
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    // the two cumulative-rank windows are global BY DESIGN but their
    // input is the post-groupBy distinct-value lattice (guard-bounded
    // to MaxSpearmanValues) — every global window must sit above an
    // aggregate, never over corpus rows
    val globals = unpartitionedWindows(plan)
    assert(globals.nonEmpty, "expected the two lattice cumulative windows")
    globals.foreach { w =>
      assert(collectPlans(w.child).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec]),
        s"global window consumes un-aggregated (corpus-sized) input: $w")
    }
    // the rank lattices join BACK to the corpus as broadcasts — a
    // sort-merge there would sort corpus rows twice on a wide key
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "rank-lattice joins must broadcast, not sort-merge")
    // the cardinality guard must survive optimization (the
    // consumed-expression rule): a wide-cardinality column (continuous
    // metric, ~no ties) makes the lattice corpus-sized, and the guard
    // is the declared scale contract for that case
    assert(plan.queryExecution.executedPlan.treeString(verbose = true)
      .contains("raise_error"), "spearmanCorr's lattice guard was pruned")
    val r = plan.collect()(0)
    assert(r.getLong(0) == 12L)
  }

  test("groupTrend is one hash aggregate: no window, no join") {
    val df = (1 to 40).map(i => (s"g${i % 3}", i.toLong, (i * 2).toLong)).toDF("g", "x", "y")
    val plan = Stats.groupTrend(df, "g", "x", "y")
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))
  }

  test("templatePrefixShares: slice totals ride a broadcast, prefixes shuffle as fixed-width keys") {
    val docs = (1 to 30).map(i => (s"s${i % 2}", s"prefix $i text")).toDF("source", "text")
    val plan = graft.scale.WebFilters.templatePrefixShares(docs, "source", "text")
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the |slices|-row totals must broadcast, not sort-merge")
    assert(unpartitionedWindows(plan).isEmpty)
  }

  test("centerAudit: per-dim means broadcast back; vectors shuffle as scalars, no cartesian") {
    val df = (1 to 20).map(i => (i.toLong, Array(i * 0.1f, -i * 0.1f), s"l${i % 2}"))
      .toDF("vec_id", "embedding", "label")
    val plan = graft.scale.Embeddings.centerAudit(df, "vec_id", "embedding", "label")
    val nodes = collectPlans(plan.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    assert(unpartitionedWindows(plan).isEmpty)
  }

  test("summary-window cardinality guards survive optimization (consumed-expression rule)") {
    // the raise_error must still be IN the physical plan — a guard the
    // optimizer prunes is documentation, not enforcement
    val df = (1 to 30).map(i => ("g", (i % 5).toDouble, 1.0,
      if (i % 2 == 0) "a" else "b")).toDF("g", "v", "w", "s")
    def planText(p: DataFrame): String =
      p.queryExecution.executedPlan.treeString(verbose = true)
    assert(planText(Stats.ksDrift(df, "v", "s", "a", "b")).contains("raise_error"),
      "ksDrift's lattice guard was pruned")
    assert(planText(Stats.weightedQuantile(df, "v", "w", Seq("g"), 0.5))
      .contains("raise_error"), "weightedQuantile's cardinality guard was pruned")
    assert(planText(Stats.winsorizedMean(df, "v", Seq("g")))
      .contains("raise_error"), "winsorizedMean's cardinality guard was pruned")
  }

  test("round-11 ops: kappa's chance term broadcasts, wilson/contracts are agg-only") {
    val games = (1 to 40).map(i => ((i % 5).toLong, ((i + 2) % 5).toLong))
      .toDF("winner", "loser").filter(col("winner") =!= col("loser"))
    val wilson = graft.scale.Preferences.winRateWilson(games, "winner", "loser")
    assert(unpartitionedWindows(wilson).isEmpty)
    assert(!collectPlans(wilson.queryExecution.executedPlan)
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the Wilson band is a projection over itemStats — no join at all")
    val ratings = (1 to 60).map(i =>
      (i.toLong % 20, if (i % 2 == 0) "a" else "b", s"l${i % 3}"))
      .toDF("item", "rater", "label")
    val kappa = graft.scale.Preferences.cohenKappa(
      ratings, "item", "rater", "label", "a", "b")
    val knodes = collectPlans(kappa.queryExecution.executedPlan)
    assert(!knodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "the 1-row chance term must ride a broadcast")
    assert(unpartitionedWindows(kappa).isEmpty)
    for (audit <- Seq(
        graft.ops.Contracts.uniquenessAudit(orders, Seq("o_orderkey"), "u"),
        graft.ops.Contracts.enumDomainAudit(orders.selectExpr("cast(o_orderkey % 3 as string) as v"),
          "v", Seq("0", "1"), "e"),
        graft.ops.Contracts.rangeAudit(orders, "o_orderkey", 1L, 5L, "r"))) {
      val nodes = collectPlans(audit.queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[WindowExec]) &&
        !nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
        "contract audits are aggregates — no windows, no sort-merge joins")
    }
  }

  test("round-12 ops: panel agreement and kappa drift run window-free; elections are aggregates") {
    val ratings = (1 to 90).map(i =>
      (i.toLong % 30, Seq("a", "b", "c")(i % 3), s"l${i % 4}"))
      .toDF("item", "rater", "label")
    for (df <- Seq(
        graft.scale.Preferences.fleissKappa(ratings, "item", "rater", "label"),
        graft.scale.Preferences.consensusLabels(ratings, "item", "rater", "label"),
        graft.scale.Preferences.raterConsensusAgreement(ratings, "item", "rater", "label"))) {
      val nodes = collectPlans(df.queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[WindowExec]),
        "panel operators elect/aggregate — never a per-item window sort")
      assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        "1-row terms must ride broadcasts")
    }
    val waved = (1 to 120).map(i =>
      (i.toLong % 3, i.toLong % 20, if (i % 2 == 0) "a" else "b", s"l${i % 3}"))
      .toDF("wave", "item", "rater", "label")
    val drift = graft.scale.Preferences.kappaDrift(
      waved, "item", "rater", "label", "a", "b", "wave")
    val dnodes = collectPlans(drift.queryExecution.executedPlan)
    assert(!dnodes.exists(_.isInstanceOf[WindowExec]),
      "the predecessor lookup is a bounded self-join on the wave summary, never a window")
    // DP mean / ledger: one aggregate each, row-local epilogues
    val vals = (1 to 50).map(i => (s"g${i % 4}", i.toDouble)).toDF("g", "v")
    val mean = graft.ops.Privacy.dpNoisyMean(vals, "g", "v", 0L, 100000000L)
    assert(!collectPlans(mean.queryExecution.executedPlan)
      .exists(p => p.isInstanceOf[WindowExec] ||
        p.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "dpNoisyMean is one hash aggregate + row-local noise")
  }

  test("round-12 continuation ops: audits aggregate window-free; hubs top-k never sorts globally") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.joins.{CartesianProductExec, SortMergeJoinExec}
    val pairs = (1 to 40).map(i => (i.toLong, (i + 7).toLong)).toDF("id_a", "id_b")
    val asg = (1 to 60).map(i => (i.toLong, Seq("train", "val", "test")(i % 3)))
      .toDF("doc_id", "split")
    for (df <- Seq(
        graft.scale.Dedup.splitLeakageAudit(pairs, asg, "doc_id", "split"),
        graft.scale.Dedup.scrubLeakedDocs(pairs, asg, "doc_id", "split"),
        graft.scale.Dedup.nearDupHubs(pairs, k = 5))) {
      val nodes = collectPlans(df.queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[WindowExec]) &&
        !nodes.exists(_.isInstanceOf[CartesianProductExec]),
        "leakage/hub operators are keyed joins + aggregates — no windows, no cartesians")
    }
    // the hubs top-k must ride the bounded aggregate, not a global sort
    val hubs = graft.scale.Dedup.nearDupHubs(pairs, k = 5)
    assert(!collectPlans(hubs.queryExecution.executedPlan)
      .exists { case s: SortExec => s.global; case _ => false },
      "nearDupHubs must never globally sort the degree table")
    // context fit: ONE aggregate pass — no join of any kind, no window
    val docs = (1 to 50).map(i => (i.toLong, "a b c " * (i % 7))).toDF("doc_id", "text")
    val fit = graft.scale.TextAnalysis.contextFitAudit(docs, "text", Seq(4, 16))
    val fnodes = collectPlans(fit.queryExecution.executedPlan)
    assert(!fnodes.exists(p => p.isInstanceOf[WindowExec] ||
      p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[CartesianProductExec]),
      "contextFitAudit is one scan into one 1-row aggregate")
    // alpha / calibration / length-bias / reconciliation: window-free,
    // 1-row terms on broadcasts
    val ratings = (1 to 90).map(i =>
      (i.toLong % 30, Seq("a", "b", "c")(i % 3), s"l${i % 4}"))
      .toDF("item", "rater", "label")
    val games = (1 to 40).map(i => ((i % 5).toLong, ((i + 2) % 5).toLong))
      .toDF("winner", "loser").filter(col("winner") =!= col("loser"))
    val lens = (0 to 4).map(i => (i.toLong, (i * 10 + 5).toLong)).toDF("item", "len")
    for (df <- Seq(
        graft.scale.Preferences.krippendorffAlpha(ratings, "item", "rater", "label"),
        graft.scale.Preferences.raterAgreementMatrix(ratings, "item", "rater", "label"),
        graft.scale.Preferences.btCalibration(games, "winner", "loser", iterations = 2),
        graft.scale.Preferences.btCalibrationError(games, "winner", "loser", iterations = 2),
        graft.scale.Preferences.lengthBiasAudit(games, lens, "winner", "loser", "item", "len"),
        graft.ops.Contracts.reconciliationAudit(orders, orders, "r"))) {
      val nodes = collectPlans(df.queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[WindowExec]) &&
        !nodes.exists(_.isInstanceOf[CartesianProductExec]),
        "round-12 continuation audits must stay window-free with broadcast 1-row terms")
    }
  }

  test("statically-bounded summary windows reject corpus-sized caller literals") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      graft.scale.TextAnalysis.vocabCoverage(docs, "text", ks = Seq(20000000)))
    intercept[IllegalArgumentException](
      graft.scale.Sampling.curriculumBands(docs.withColumn("s", col("doc_id")),
        "doc_id", "s", bands = 2, grid = 20000000))
    val events = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      "click", 1L)).toDF("user_id", "ts", "event_type", "event_id")
    intercept[IllegalArgumentException](
      graft.streaming.Streams.timeToConvert(events, "click", "purchase",
        gapMinutes = 200000))
    intercept[IllegalArgumentException](
      graft.scale.Sampling.epochAllocation(docs, "text", "doc_id",
        (1 to 100001).map(i => s"s$i" -> 1.0).toMap, budgetTokens = 10L))
  }
}
