package graft.scale

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops.Cleaning.qcol

/** Link-graph quality ranking — the standard crawl-quality signal a
  * pretraining pipeline feeds into its mixture/quality-floor operators
  * (this repo's `Sampling.qualityFloor` / `Curation` mixers): domains
  * that many reputable domains link to are upweighted, link farms that
  * only link to themselves are not. PageRank over a (src_domain,
  * dst_domain) edge table with a FIXED iteration count (the production
  * shape: rank jobs run k power iterations per crawl wave, not to
  * convergence — Common Crawl's own ranking publishes fixed-iteration
  * harmonic/PageRank variants).
  *
  * Determinism contract: all arithmetic is integer (micro-scaled longs
  * with explicit integer division), so the result is independent of
  * partitioning and float summation order — bit-identical across
  * engines, which is what lets a DuckDB oracle unroll the same k
  * iterations and hash-match. rank_micro(v) converges toward 1e6 *
  * classic per-node PageRank (damping d = dampingPct/100, teleport
  * (1-d), uniform unit init); dangling-node mass is NOT redistributed
  * (the usual large-graph simplification — redistribution is a global
  * scalar per iteration that changes no ordering).
  *
  * Scale: each iteration is ONE equi-join (ranks to edge sources) plus
  * ONE aggregation (contributions summed per destination) plus a left
  * join back to the node set — the transitive closure is never
  * materialized, and the working set per iteration is |edges| +
  * |nodes|, shuffled on the node key. At web scale |nodes| (domains,
  * ~1e8) is far smaller than |edges| (~1e10); the edge table is the
  * scan-dominant side and shuffles once per iteration on src then dst.
  * With a bucketed/pre-partitioned edge table the src-side shuffle
  * disappears (the join inherits the layout; see Sinks.writeBucketed).
  * Lineage is kept bounded for deep runs by localCheckpointing the
  * rank frame every few iterations (plans otherwise grow linearly and
  * re-analyze superlinearly).
  */
object Graph {

  /** Iterations between lazy localCheckpoints (`eager = false`: the
    * frame materializes in the first job that reads it) of the loop
    * frame — rank, distance or label: deep iterative plans otherwise
    * accumulate one join+agg of depth per round and Catalyst
    * re-analysis goes superlinear. 4 keeps plans shallow while
    * checkpointing rarely enough that the materialized frame (|nodes|
    * rows of two longs) stays a minor cost. */
  val CheckpointEvery = 4

  // ---- the edge kernel: every operator's hygiene, node set, loop
  // cadence and driver-fold scaffolding, written once ----

  /** The caller's directed links as long (src, dst) with self-loops
    * dropped (a self-loop is rank recycling) — the hygiene of every
    * directed operator. Caller names resolve through `qcol`, so dotted
    * column names work; `extra` columns ride along (the weight). Adds
    * no barrier: callers that reread the frame cut their own. */
  private def directedEdges(
      edges: DataFrame, srcCol: String, dstCol: String, extra: Column*): DataFrame =
    edges.select(Seq(qcol(srcCol).cast("long").as("src"),
        qcol(dstCol).cast("long").as("dst")) ++ extra: _*)
      .filter(col("src") =!= col("dst"))

  /** [[directedEdges]] deduplicated — the unweighted link set (a
    * duplicate edge would double-count a link's vote). */
  private def links(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    directedEdges(edges, srcCol, dstCol).distinct()

  /** The caller's links as long (a, b) with null ids and self-loops
    * dropped, in their given orientation. */
  private def pairEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(qcol(srcCol).cast("long").as("a"), qcol(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))

  /** [[pairEdges]] symmetrized and deduplicated: each undirected link
    * as both (a, b) and (b, a) — the community operators' edge list. */
  private def symmetricEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = pairEdges(edges, srcCol, dstCol)
    e0.union(e0.select(col("b").as("a"), col("a").as("b"))).distinct()
  }

  /** Every endpoint of a (src, dst) frame once, as `node`. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()

  /** `rounds` applications of `step` from `init`, the frame lazily
    * localCheckpointed after every [[CheckpointEvery]]th round but the
    * last (the caller's consumer reads that one once). */
  private def iterate(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init) { (cur, i) =>
      val next = step(cur)
      if (i % CheckpointEvery == 0 && i < rounds) next.localCheckpoint(eager = false) else next
    }

  /** Hybrid cutover for the iterative operators: when the PREPARED
    * edge frame (deduped, self-loop-free longs) fits the
    * [[DriverFold]] budget, the power/min-plus/mutual-recursion loops
    * fold on the DRIVER in O(iterations·|edges|) — replacing 3–5 Spark
    * jobs per iteration (join, aggregate, left join back, periodic
    * checkpoint). Past the budget (the 1e10-edge crawl graph) the
    * distributed loop is the path, unchanged. Identical results: every
    * step is long sums (order-free), positive-operand integer division,
    * and multiplyExact/addExact replaying ANSI's overflow error —
    * spec-pinned driver ≡ distributed. Caller-supplied side frames
    * (seeds, teleport, warm-start ranks) go through the same budget.
    *
    * This is the fold's input: the edge frame's `cols` collected as
    * (x, y, w) longs in collect order (w = 1 without a third column)
    * and the node set in first-seen order (x then y per edge), which is
    * the row order of the fold's output. None over the budget. */
  private def localEdges(e: DataFrame, cols: String*)
      : Option[(Array[(Long, Long, Long)], java.util.LinkedHashSet[java.lang.Long])] =
    DriverFold.collect(e, cols.map(col): _*).map { rows =>
      val edges = rows.map(r =>
        (r.getLong(0), r.getLong(1), if (r.length > 2) r.getLong(2) else 1L))
      val nodes = new java.util.LinkedHashSet[java.lang.Long]()
      edges.foreach { case (x, y, _) => nodes.add(x); nodes.add(y) }
      (edges, nodes)
    }

  /** A fold's node-keyed output: one row per node in `nodes` order,
    * `node` then one nullable long column per (name, node → value) map
    * (a missing or null value is SQL NULL) — the distributed loop's
    * exact column set/types. */
  private def nodeFrame(
      e: DataFrame, nodes: java.util.LinkedHashSet[java.lang.Long],
      cols: (String, java.util.Map[_, java.lang.Long])*): DataFrame = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[Row] = nodes.iterator.asScala
      .map(n => Row.fromSeq(n.longValue +: cols.map(_._2.get(n))))
      .toSeq.asJava
    e.sparkSession.createDataFrame(rows, StructType(
      StructField("node", LongType, nullable = false) +:
        cols.map(c => StructField(c._1, LongType))))
  }

  /** Fixed-point PageRank (see object doc). Input: an edge table;
    * self-loops and duplicate edges are removed first (a self-loop is
    * rank recycling, duplicates would double-count a link's vote —
    * both standard link-graph hygiene). Returns (node, rank_micro)
    * with one row per node appearing as source or destination.
    *
    * @param dampingPct damping factor in percent (85 = the classic 0.85)
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, dampingPct: Int = 85): DataFrame =
    rankIterate(links(edges, srcCol, dstCol).withColumn("w", lit(1L)),
      iterations, dampingPct)

  /** WEIGHTED fixed-point PageRank: each link votes in proportion to
    * its weight (multi-edges aggregate by summing `weightCol` per
    * (src, dst); the natural crawl weight is link multiplicity — how
    * many pages of domain A link domain B). Contribution of edge
    * (u, v) = rank(u) * w(u,v) div W(u) with W(u) = u's total
    * out-weight — integer arithmetic throughout, same determinism
    * contract as [[pageRank]] (which is exactly the all-weights-1
    * case). API contract: weights are positive integer-valued longs;
    * rank*weight must stay below 2^63 (ANSI mode fails loudly if a
    * pathological weight breaks it).
    */
  def pageRankWeighted(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      iterations: Int, dampingPct: Int = 85): DataFrame = {
    val e = directedEdges(edges, srcCol, dstCol, qcol(weightCol).cast("long").as("w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .filter(col("w") > 0)
    rankIterate(e, iterations, dampingPct)
  }

  /** PERSONALIZED (topic-sensitive / TrustRank-style) fixed-point
    * PageRank: the teleport mass is a caller-supplied per-node vector
    * instead of uniform — the classic trusted-seed quality signal
    * (seed the teleport on hand-vetted domains; spam that reputable
    * regions never link to receives rank only through the damped link
    * votes, i.e. almost none). `teleport` is a (node, teleport_micro)
    * frame; nodes absent from it get ZERO teleport mass. Iteration
    * v: rank' = ((100-d)·t(v)) div 100 + (d·in_sum) div 100, rank
    * initialized AT the teleport vector — with t ≡ 1e6 this is
    * exactly [[pageRank]] (spec-pinned).
    *
    * Scale: identical shape to [[pageRank]] plus one broadcast-or-
    * keyed join of the teleport vector per iteration (|teleport| ≤
    * |nodes|; a seed list is tiny and broadcasts).
    */
  def pageRankPersonalized(
      edges: DataFrame, srcCol: String, dstCol: String,
      teleport: DataFrame, iterations: Int, dampingPct: Int = 85): DataFrame =
    rankIterate(links(edges, srcCol, dstCol).withColumn("w", lit(1L)),
      iterations, dampingPct,
      Some(teleport.select(col("node").cast("long").as("node"),
        col("teleport_micro").cast("long").as("teleport_micro"))))

  /** WARM-START rank refresh — the incremental path a production crawl
    * actually runs: after a crawl delta lands (new edges, dead hosts
    * dropped), continue the power iteration FROM the previous wave's
    * converged ranks instead of re-running the full iteration budget
    * from the uniform start. Because power iteration is a contraction,
    * a handful of refresh iterations from a near-converged vector
    * reaches the same quality a cold start needs many multiples of —
    * at 1e10 edges, the difference between a nightly job and an
    * impossible one. Nodes NEW in this wave's edge set start at the
    * uniform teleport mass (exactly a cold node's init); nodes that
    * left the graph drop out. Refreshing over an UNCHANGED edge set
    * for k iterations is bit-identical to extending the original run
    * by k (spec-pinned) — the same integer-arithmetic contract as
    * [[pageRank]].
    */
  def pageRankRefresh(
      edges: DataFrame, srcCol: String, dstCol: String, ranks0: DataFrame,
      iterations: Int, dampingPct: Int = 85): DataFrame =
    rankIterate(links(edges, srcCol, dstCol).withColumn("w", lit(1L)),
      iterations, dampingPct, None,
      Some(ranks0.select(col("node").cast("long").as("node"),
        col("rank_micro").cast("long").as("rank_micro"))))

  /** Shared power-iteration core over a prepared (src, dst, w) edge
    * frame (deduped, self-loop-free, positive integer weights);
    * `teleportOpt` personalizes the teleport vector (None = uniform
    * 1e6 per node); `initOpt` warm-starts the iteration from a prior
    * (node, rank_micro) frame (absent nodes start at their teleport
    * mass). Both caller-supplied frames are deduplicated on `node`
    * before joining (max mass wins — deterministic): a duplicate node
    * row would otherwise fan out the node set through the left join
    * and double-count contributions in every subsequent iteration —
    * the same hygiene the operator applies to the edge set. */
  private def rankIterate(
      e: DataFrame, iterations: Int, dampingPct: Int,
      teleportOpt: Option[DataFrame] = None,
      initOpt: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1, "pageRank: need at least one iteration")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"pageRank: dampingPct must be 0..100, got $dampingPct")
    // materialize the loop INPUTS once (the r11 Bradley-Terry lesson):
    // the lazy forms would re-run the edge prep (distinct + filters on
    // the raw graph) and the out-weight/node aggregates on EVERY
    // iteration — only the rank frame was checkpointed before. The
    // edge frame materializes at |edges| rows of three longs; outw and
    // the node set are node-sized.
    val ec = e.localCheckpoint(eager = false)
    rankFoldLocal(ec, iterations, dampingPct, teleportOpt, initOpt).getOrElse {
      val outw = ec.groupBy(col("src")).agg(sum(col("w")).as("outw"))
        .localCheckpoint(eager = false)
      val nodes0 = nodesOf(ec)
      // nodes carries each node's teleport mass so the per-iteration
      // epilogue is one join with the node set it needs anyway
      val nodes = (teleportOpt match {
        case None => nodes0.withColumn("t_micro", lit(1000000L))
        case Some(t) =>
          val t1 = t.groupBy(col("node")).agg(max(col("teleport_micro")).as("teleport_micro"))
          nodes0.join(t1, Seq("node"), "left")
            .select(col("node"),
              coalesce(col("teleport_micro"), lit(0L)).as("t_micro"))
      }).localCheckpoint(eager = false)
      val ranks0 = initOpt match {
        case None => nodes.select(col("node"), col("t_micro").as("rank_micro"))
        case Some(r0) =>
          val r1 = r0.groupBy(col("node")).agg(max(col("rank_micro")).as("rank_micro"))
          nodes.join(r1, Seq("node"), "left")
            .select(col("node"),
              coalesce(col("rank_micro"), col("t_micro")).as("rank_micro"))
      }
      iterate(ranks0, iterations) { ranks =>
        // contribution of each edge = src rank split over its out-weight
        // (integer division — the determinism contract)
        val contribs = ec
          .join(ranks.withColumnRenamed("node", "src"), "src")
          .join(outw, "src")
          .select(col("dst").as("node"),
            expr("(rank_micro * w) div outw").as("contrib"))
          .groupBy(col("node")).agg(sum(col("contrib")).as("in_sum"))
        nodes.join(contribs, Seq("node"), "left")
          .select(col("node"),
            (expr(s"((${100 - dampingPct}) * t_micro) div 100") +
              expr(s"($dampingPct * coalesce(in_sum, 0L)) div 100"))
              .as("rank_micro"))
      }
    }
  }

  /** Driver-side replay of the power iteration over the collected edge
    * frame — the [[DriverFold]] hybrid. The arithmetic is the EXACT
    * integer chain the distributed loop runs (contributions
    * `(rank·w) div outw` summed per destination, the damped teleport
    * epilogue), including the dedup/zero-fill join semantics for the
    * teleport and warm-start frames. */
  private def rankFoldLocal(
      ec: DataFrame, iterations: Int, dampingPct: Int,
      teleportOpt: Option[DataFrame], initOpt: Option[DataFrame]): Option[DataFrame] =
    for {
      (edges, nodeSet) <- localEdges(ec, "src", "dst", "w")
      tm <- DriverFold.maxByKey(teleportOpt, "node", "teleport_micro")
      rm <- DriverFold.maxByKey(initOpt, "node", "rank_micro")
    } yield {
      val outw = new java.util.HashMap[Long, java.lang.Long]()
      edges.foreach { case (s2, _, w) =>
        val cur = outw.get(s2)
        outw.put(s2, if (cur == null) w else Math.addExact(cur, w))
      }
      val t = new java.util.HashMap[Long, java.lang.Long]()
      tm match {
        case None => nodeSet.forEach(n => t.put(n, 1000000L))
        case Some(m) =>
          nodeSet.forEach { n =>
            val v = m.get(n); t.put(n, if (v == null) 0L else v)
          }
      }
      var ranks = new java.util.HashMap[Long, java.lang.Long]()
      rm match {
        case None => nodeSet.forEach(n => ranks.put(n, t.get(n)))
        case Some(m) =>
          nodeSet.forEach { n =>
            val v = m.get(n); ranks.put(n, if (v == null) t.get(n) else v)
          }
      }
      val dp = dampingPct.toLong; val kp = (100 - dampingPct).toLong
      for (_ <- 1 to iterations) {
        val in = new java.util.HashMap[Long, java.lang.Long]()
        edges.foreach { case (s2, d2, w) =>
          val contrib = Math.multiplyExact(ranks.get(s2).longValue, w) / outw.get(s2)
          val cur = in.get(d2)
          in.put(d2, if (cur == null) contrib else Math.addExact(cur, contrib))
        }
        val next = new java.util.HashMap[Long, java.lang.Long]()
        nodeSet.forEach { n =>
          val inSum = { val v = in.get(n); if (v == null) 0L else v.longValue }
          next.put(n, Math.multiplyExact(kp, t.get(n)) / 100L +
            Math.multiplyExact(dp, inSum) / 100L)
        }
        ranks = next
      }
      nodeFrame(ec, nodeSet, "rank_micro" -> ranks)
    }

  /** HITS hubs & authorities (Kleinberg) over the cleaned link graph —
    * the complementary quality signal to [[pageRank]]: an AUTHORITY is
    * a domain good hubs point at (the content worth keeping), a HUB is
    * a domain that points at good authorities (directories/aggregators
    * — high hub + low authority is the classic link-farm shape, and
    * the hub score is what PageRank alone cannot see). Mutual
    * recursion, power-iterated a FIXED `iterations` times:
    * auth(v) = Σ_{u→v} hub(u), then hub(u) = Σ_{u→v} auth(v), each
    * half-step rescaled to ≤ 1e6 micro-units.
    *
    * Determinism contract (the oracle unrolls these exact steps):
    * integer micro-units throughout; the rescale divisor is
    * `max_raw div 1e6 + 1` (a 1-row MAX aggregate), so
    * score = raw div divisor is < 1e6, exact integer, and
    * partitioning-invariant — never a float L2 norm, whose
    * summation-order drift would break engine parity. Bounded scores
    * also make overflow impossible at any graph size: a raw half-step
    * sum is ≤ in_degree · 1e6 < 2^63 for any real in-degree.
    * Self-loops and duplicate edges are removed first, as in
    * [[pageRank]].
    *
    * Scale: per half-step ONE equi-join (scores onto the edge frame)
    * + ONE aggregation per node + a 1-row MAX broadcast back — the
    * [[pageRank]] iteration shape plus a scalar pass; |edges| shuffles
    * on src then dst per full iteration (pre-bucketing the edge table
    * removes the src side), lineage bounded by localCheckpoint every
    * [[CheckpointEvery]] iterations. Output is |nodes| rows:
    * (node, auth_micro, hub_micro).
    */
  def hits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, "hits: need at least one iteration")
    // inputs materialized once — each half-step would otherwise re-run
    // the edge distinct and node union (the rankIterate/BT lesson)
    val e = links(edges, srcCol, dstCol).localCheckpoint(eager = false)
    // driver fold when the graph fits the budget (see DriverFold):
    // the mutual recursion is 2 gathers + 2 rescales per iteration —
    // ~6 Spark jobs of fixed overhead each on a collectable graph
    hitsFoldLocal(e, iterations).getOrElse {
      val nodes = nodesOf(e).localCheckpoint(eager = false)
      var hub = nodes.select(col("node"), lit(1000000L).as("score"))
      var auth = hub
      for (_ <- 1 to iterations) {
        auth = hitsHalfStep(e, hub, "src", "dst", nodes)
        hub = hitsHalfStep(e, auth, "dst", "src", nodes)
      }
      auth.withColumnRenamed("score", "auth_micro")
        .join(hub.withColumnRenamed("score", "hub_micro"), Seq("node"))
    }
  }

  /** Driver-side replay of the HITS mutual recursion — the
    * [[DriverFold]] hybrid: per half-step, gather (long sums,
    * order-free), zero-fill over the node set, rescale by
    * `raw div (max div 1e6 + 1)` — the exact integer chain
    * [[hitsHalfStep]] runs distributed. */
  private def hitsFoldLocal(e: DataFrame, iterations: Int): Option[DataFrame] =
    localEdges(e, "src", "dst").map { case (edges, nodeSet) =>
      def uniform(): java.util.HashMap[Long, java.lang.Long] = {
        val m = new java.util.HashMap[Long, java.lang.Long]()
        nodeSet.forEach(n => m.put(n, 1000000L)); m
      }
      var hub = uniform(); var auth = uniform()
      def half(scores: java.util.HashMap[Long, java.lang.Long],
          fromDst: Boolean): java.util.HashMap[Long, java.lang.Long] = {
        val in = new java.util.HashMap[Long, java.lang.Long]()
        edges.foreach { case (s2, d2, _) =>
          val (f, to) = if (fromDst) (d2, s2) else (s2, d2)
          val cur = in.get(to)
          val v = scores.get(f).longValue
          in.put(to, if (cur == null) v else Math.addExact(cur, v))
        }
        var mx = Long.MinValue
        nodeSet.forEach { n =>
          val raw = { val v = in.get(n); if (v == null) 0L else v.longValue }
          if (raw > mx) mx = raw
        }
        val divisor = mx / 1000000L + 1L
        val out = new java.util.HashMap[Long, java.lang.Long]()
        nodeSet.forEach { n =>
          val raw = { val v = in.get(n); if (v == null) 0L else v.longValue }
          out.put(n, raw / divisor)
        }
        out
      }
      for (_ <- 1 to iterations) {
        auth = half(hub, fromDst = false)
        hub = half(auth, fromDst = true)
      }
      nodeFrame(e, nodeSet, "auth_micro" -> auth, "hub_micro" -> hub)
    }

  /** One HITS half-step: gather `scores` across edges from `fromCol`
    * onto `toCol`, zero-fill over the node set, rescale by the integer
    * micro divisor (see [[hits]]). The gathered frame is
    * localCheckpointed BEFORE the rescale: the raw scores feed both
    * the MAX divisor and the projection, and without the checkpoint
    * that double reference doubles the lazy plan per half-step —
    * exponential re-analysis over the iteration count (measured: the
    * 4-iteration query fell 109 s → ~2 s at sf0.001). The materialized
    * frame is |nodes| rows of two longs — the same size [[pageRank]]'s
    * periodic checkpoint already pays. */
  private def hitsHalfStep(
      e: DataFrame, scores: DataFrame, fromCol: String, toCol: String,
      nodes: DataFrame): DataFrame = {
    val raw = e.join(scores.withColumnRenamed("node", fromCol), fromCol)
      .groupBy(col(toCol).as("node")).agg(sum(col("score")).as("raw"))
    val full = nodes.join(raw, Seq("node"), "left")
      .select(col("node"), coalesce(col("raw"), lit(0L)).as("raw"))
      .localCheckpoint(eager = false)
    val mx = full.agg(max(col("raw")).as("__m"))
    full.crossJoin(broadcast(mx))
      .select(col("node"), expr("raw div (__m div 1000000 + 1)").as("score"))
  }

  /** Sentinel distance for unreached nodes during [[seedDistance]]
    * iteration — far above any reachable hop count, well below
    * overflow even after `maxHops` increments. */
  private val UnreachedHops = 999999999L

  /** Bounded-hop distance from a seed set — the "distance from trusted
    * domains" quality proxy (the CCNet/crawl-frontier heuristic: pages
    * few hops from hand-vetted seeds are likelier worth keeping, and
    * hop distance is cheaper and more robust than a full rank when all
    * the consumer needs is near/far tiers). Computes, per node, the
    * length of the shortest directed path FROM any seed, capped at
    * `maxHops` iterations: nodes not reached within the cap report
    * NULL (at web scale the cap is the operator — the diameter of the
    * reachable web is small, and an uncapped BFS frontier is a bug,
    * not a feature). Seeds absent from the edge set are ignored
    * (distance is measured on this wave's graph).
    *
    * Determinism: pure integer min-plus iteration — dist'(v) =
    * min(dist(v), 1 + min over in-edges of dist(u)) with an integer
    * sentinel for "unreached" — exact at any partitioning, unrollable
    * by the oracle.
    *
    * Scale: per iteration ONE equi-join (distances onto edge sources)
    * + ONE min-aggregate per destination + a left join back — the
    * [[pageRank]] iteration shape with min instead of sum;
    * localCheckpoint every [[CheckpointEvery]] iterations bounds the
    * lineage. Output is |nodes| rows.
    */
  def seedDistance(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "seedDistance: need at least one hop")
    // inputs materialized once per fit — the rankIterate/BT lesson
    val e = links(edges, srcCol, dstCol).localCheckpoint(eager = false)
    // driver fold when the graph fits the budget (see DriverFold):
    // pure integer min-plus, exactly the distributed rounds
    seedDistanceFoldLocal(e, seeds, maxHops).getOrElse {
      val s = seeds.select(col("node").cast("long").as("node")).distinct()
        .withColumn("__seed", lit(1))
      val dist0 = nodesOf(e).join(s, Seq("node"), "left")
        .select(col("node"),
          when(col("__seed").isNotNull, lit(0L))
            .otherwise(lit(UnreachedHops)).as("hops"))
      val dist = iterate(dist0, maxHops) { dist =>
        val gather = e.join(dist.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node")).agg(min(col("hops") + 1L).as("__g"))
        dist.join(gather, Seq("node"), "left")
          .select(col("node"),
            least(col("hops"), coalesce(col("__g"), lit(UnreachedHops))).as("hops"))
      }
      dist.select(col("node"),
        when(col("hops") >= UnreachedHops, lit(null).cast("long"))
          .otherwise(col("hops")).as("hops"))
    }
  }

  /** Driver-side replay of the bounded-hop min-plus iteration — the
    * [[DriverFold]] hybrid (the seeds frame is collected under the same
    * budget); seeds outside the edge set are ignored (the distributed
    * left-join semantics). */
  private def seedDistanceFoldLocal(
      e: DataFrame, seeds: DataFrame, maxHops: Int): Option[DataFrame] =
    for {
      (edges, nodeSet) <- localEdges(e, "src", "dst")
      seedRows <- DriverFold.collect(seeds, col("node").cast("long"))
    } yield {
      val seedSet = new java.util.HashSet[java.lang.Long]()
      seedRows.foreach(r => if (!r.isNullAt(0)) seedSet.add(r.getLong(0)))
      var dist = new java.util.HashMap[Long, java.lang.Long]()
      nodeSet.forEach(n => dist.put(n,
        if (seedSet.contains(n)) 0L else UnreachedHops))
      for (_ <- 1 to maxHops) {
        val gather = new java.util.HashMap[Long, java.lang.Long]()
        edges.foreach { case (s2, d2, _) =>
          val g = dist.get(s2).longValue + 1L
          val cur = gather.get(d2)
          if (cur == null || g < cur) gather.put(d2, g)
        }
        val next = new java.util.HashMap[Long, java.lang.Long]()
        nodeSet.forEach { n =>
          val cur = dist.get(n).longValue
          val g = gather.get(n)
          next.put(n, if (g == null || cur <= g) cur else g.longValue)
        }
        dist = next
      }
      dist.replaceAll((_, h) => if (h >= UnreachedHops) null else h) // unreached → NULL
      nodeFrame(e, nodeSet, "hops" -> dist)
    }

  /** Co-citation pairs — domains frequently linked BY THE SAME sources
    * (Small 1973's bibliographic measure, applied as the standard
    * mirror/duplicate-site detector: two hosts serving the same
    * content accumulate near-identical in-link profiles, so their
    * co-citation count approaches both in-degrees). Reports every
    * unordered pair (dst_a < dst_b) co-linked by at least `minCommon`
    * distinct sources.
    *
    * The quadratic guard — the same contract as the dedup blockers:
    * sources with out-degree > `maxOutDegree` are EXCLUDED before the
    * self-join (a page linking thousands of domains is a directory,
    * not a similarity witness — standard practice, and it bounds the
    * per-source pair fan-out at maxOutDegree²/2). The cap is part of
    * the operator's semantics and replayed by the oracle.
    *
    * Scale: one degree aggregate, one co-partitioned filter join on
    * src, then the capped self-equi-join on src and a pair aggregate —
    * never a cartesian; pair mass ≤ |kept sources| · maxOutDegree²/2,
    * and `minCommon` prunes the long random tail at the aggregate.
    */
  def coCitation(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxOutDegree: Int, minCommon: Long): DataFrame = {
    require(maxOutDegree >= 2, s"coCitation: maxOutDegree must be >= 2, got $maxOutDegree")
    require(minCommon >= 1, s"coCitation: minCommon must be >= 1, got $minCommon")
    val e = links(edges, srcCol, dstCol)
    val keep = e.join(
      e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") <= maxOutDegree).select(col("src")),
      Seq("src"))
    keep.select(col("src"), col("dst").as("dst_a"))
      .join(keep.select(col("src"), col("dst").as("dst_b")), Seq("src"))
      .filter(col("dst_a") < col("dst_b"))
      .groupBy(col("dst_a"), col("dst_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
  }

  /** Degree/reciprocity audit over the cleaned link graph (self-loops
    * and duplicates removed, as [[pageRank]] sees it): per node, out-
    * degree, in-degree, and the count of RECIPROCAL out-links (u→v
    * where v→u also exists — high reciprocity between domains is the
    * classic link-exchange/spam-farm signal feeding the same quality
    * pipeline as the rank itself).
    *
    * Scale: three aggregations over |edges| and one self-equi-join on
    * the (dst, src) key for reciprocity — never a cartesian; output is
    * |nodes| rows.
    */
  def degreeAudit(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = links(edges, srcCol, dstCol)
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    val recip = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")), Seq("src", "dst"))
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("reciprocal"))
    nodesOf(e)
      .join(out, Seq("node"), "left")
      .join(in, Seq("node"), "left")
      .join(recip, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("reciprocal"), lit(0L)).as("reciprocal"))
  }

  /** Rank quality tiers by EXPLICIT rank thresholds (ascending,
    * micro-units): tier 0 = above every threshold (highest quality),
    * tier = thresholds.size = at-or-below all of them. Explicit
    * literals rather than in-query quantiles keep the operator fully
    * deterministic and engine-portable (a published ranking ships
    * fixed cut-offs per wave — recomputing cut-offs per query would
    * silently re-tier between runs); derive thresholds once from
    * [[pageRank]] output with a quantile sketch if needed, then pin
    * them.
    *
    * Scale: a narrow projection over the |nodes|-sized rank table —
    * the tier expression is a literal conditional chain, no shuffle,
    * no window.
    */
  def rankTiers(ranks: DataFrame, thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted,
      "rankTiers: thresholds must be non-empty and ascending")
    val above = thresholds.map(t =>
      when(col("rank_micro") > t, lit(1)).otherwise(lit(0)))
      .reduce[Column](_ + _)
    ranks.select(col("node"), col("rank_micro"),
      (lit(thresholds.size) - above).cast("int").as("tier"))
  }

  /** Synchronous label propagation — community detection over the link
    * graph, the clustering signal beside [[pageRank]]'s quality and
    * the dedup family's connected components: CC finds what is
    * CONNECTED (one bridge merges everything), LPA finds what is
    * DENSELY connected (communities survive bridges). A crawl's link
    * communities are its topic/language/site-family neighborhoods —
    * mixture design and spam-pocket triage both read them.
    *
    * Each round, every node takes the label held by the MOST of its
    * neighbors, smallest label on ties — the deterministic synchronous
    * variant (async orderings are partition-dependent; determinism is
    * the repo contract). The argmax is the packed-long argmin
    * `(2³¹ − count)·2³¹ + label` (node ids in [0, 2³¹) — guarded
    * loudly at init), so both engines elect identical labels.
    * Synchronous LPA can oscillate on bipartite-ish structure —
    * `iterations` is a fixed budget, not a convergence promise (run
    * one extra round and diff to detect a flip-flop; stable fixtures
    * converge in 2-3; GraphSpec plants a K_{2,2} 2-cycle and pins the
    * period-2 behavior). `selfVote = true` is the deterministic
    * damping option: each node's OWN current label counts as one
    * vote beside its neighbors' — the standard inertia fix that
    * breaks synchronous 2-cycles (the planted K_{2,2} converges in 2
    * rounds under it, spec-pinned) at the cost of slowing label
    * takeover by one round on star-ish hubs. Default false: the
    * shipped x_graph_lpa contract predates the option and async
    * orderings stay out (partition-dependent).
    *
    * Edges symmetrize (communities are undirected), dedupe, and drop
    * self-loops — the [[pageRank]] hygiene. Output: (node, label) —
    * label is some member's id; roll up on it for community sizes.
    *
    * Scale: per iteration ONE equi-join of the symmetric edge list
    * against the |nodes|-row label frame + one (node, label) hash
    * aggregate + one packed argmin — the pageRank gather shape
    * exactly; inputs materialize once, lineage checkpoints every
    * [[CheckpointEvery]] rounds.
    */
  def labelPropagation(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      iterations: Int = 3, selfVote: Boolean = false): DataFrame = {
    require(iterations >= 1, "labelPropagation: need at least one iteration")
    val sym = symmetricEdges(edges, srcCol, dstCol).localCheckpoint(eager = false)
    lpaFoldLocal(sym, iterations, selfVote).getOrElse {
      // the id-range guard rides inside the consumed init label: under
      // the default lazy barrier it fires at the first consuming action
      val labels0 = sym.select(col("a").as("node")).distinct()
        .select(col("node"),
          when(col("node") < 0L || col("node") >= Pack,
            raise_error(concat(lit("labelPropagation: node id outside [0, 2^31): "),
              col("node").cast("string"))).cast("long"))
            .otherwise(col("node")).as("label"))
        .localCheckpoint(eager = false)
      iterate(labels0, iterations) { labels =>
        val neigh = sym
          .join(labels.withColumnRenamed("node", "b"), "b")
          .select(col("a"), col("label"))
        // inertia: the node's own current label is one more vote row —
        // same aggregate shape, |nodes| extra rows per round
        val ballots = if (selfVote)
          neigh.unionByName(labels.select(col("node").as("a"), col("label")))
        else neigh
        val votes = ballots
          .groupBy(col("a"), col("label")).agg(count(lit(1)).as("__c"))
        votes.groupBy(col("a"))
          .agg(min((lit(Pack) - col("__c")) * Pack + col("label")).as("__pk"))
          .select(col("a").as("node"), pmod(col("__pk"), lit(Pack)).as("label"))
      }
    }
  }

  /** 2³¹: node ids of [[labelPropagation]] and [[triangles]] must lie in
    * [0, 2³¹) so a (count, label) or (degree, id) pair packs into one
    * long. */
  private val Pack = 2147483648L

  /** Driver-side replay of the synchronous LPA rounds — the
    * [[DriverFold]] hybrid: per round, neighbor (+optional self)
    * votes then the packed argmin `(2³¹−c)·2³¹+label`, exactly the
    * distributed arithmetic; the id-range guard throws the same loud
    * failure. */
  private def lpaFoldLocal(
      sym: DataFrame, iterations: Int, selfVote: Boolean): Option[DataFrame] =
    localEdges(sym, "a", "b").map { case (edges, nodeSet) =>
      var labels = new java.util.HashMap[Long, java.lang.Long]()
      nodeSet.forEach { n =>
        if (n < 0L || n >= Pack)
          throw new IllegalArgumentException(
            s"labelPropagation: node id outside [0, 2^31): $n")
        labels.put(n, n.longValue)
      }
      for (_ <- 1 to iterations) {
        val votes = new java.util.HashMap[(Long, Long), java.lang.Long]()
        def vote(a: Long, lab: Long): Unit = {
          val k = (a, lab); val cur = votes.get(k)
          votes.put(k, if (cur == null) 1L else cur + 1L)
        }
        edges.foreach { case (a, b, _) => vote(a, labels.get(b)) }
        if (selfVote) nodeSet.forEach(n => vote(n, labels.get(n)))
        val best = new java.util.HashMap[Long, java.lang.Long]()
        votes.forEach { (k, c) =>
          val pk = (Pack - c) * Pack + k._2
          val cur = best.get(k._1)
          if (cur == null || pk < cur) best.put(k._1, pk)
        }
        val next = new java.util.HashMap[Long, java.lang.Long]()
        best.forEach((n, pk) => next.put(n, java.lang.Math.floorMod(pk, Pack)))
        labels = next
      }
      nodeFrame(sym, nodeSet, "label" -> labels)
    }

  /** Budgeted k-core peeling — the dense-subgraph extractor beside
    * [[triangles]]'s local density: the k-core is the maximal subgraph
    * where EVERY node keeps degree ≥ k after everything weaker is
    * peeled away. Link-spam farms and mutual-admiration rings live in
    * high cores (every member propped by k others); long organic tails
    * peel out in the first rounds. Each round removes nodes whose
    * degree IN THE SURVIVING SUBGRAPH fell below k — removal cascades,
    * so `rounds` is a budget CAP like [[labelPropagation]]'s, but the
    * peel EXITS EARLY the first round that removes zero edges (a
    * fixpoint: an unchanged edge set cannot change any degree, so
    * every later round is a no-op). The early exit costs one driver
    * `count()` per round against the round's already-materialized
    * edge frame — deep cores stop paying for unused budget rounds,
    * and huge graphs can raise the cap without paying it when
    * converged. GraphSpec pins a converging fixture (exits under
    * budget, result identical to the fixed-budget answer), the
    * budget-bound behavior of a long peel chain, and hash-equality of
    * the shipped key's output.
    *
    * Output: (node, degree, in_core) for nodes surviving all rounds —
    * degree is within the surviving subgraph; `in_core = degree >= k`
    * is the convergence certificate (all true ⟺ the peel reached its
    * fixpoint within budget).
    *
    * Edges symmetrize, dedupe, and drop self-loops (the [[pageRank]]
    * hygiene) — cores are undirected.
    *
    * Scale: per round ONE degree aggregate over the surviving
    * symmetric edge list + TWO semi-joins (a-side, b-side) against the
    * ≥k node set — the pageRank gather order; each round's edge frame
    * localCheckpoints (the early-exit count rides the materialization,
    * so nothing computes twice and lineage stays flat). Work DECREASES
    * monotonically (edges only ever shrink), so unlike iterative rank
    * the later rounds get cheaper — and now stop entirely at the
    * fixpoint.
    */
  def kCore(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      k: Int = 3, rounds: Int = 8): DataFrame =
    kCorePeel(edges, srcCol, dstCol, k, rounds)._1

  /** The peel loop behind [[kCore]], also reporting how many rounds
    * actually ran (< `rounds` ⟺ the fixpoint was certified early) —
    * exposed package-private so GraphSpec can observe the early exit
    * without changing the shipped key's (node, degree, in_core)
    * schema. */
  private[graft] def kCorePeel(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      k: Int = 3, rounds: Int = 8): (DataFrame, Int) = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(rounds >= 1, s"kCore: rounds must be >= 1, got $rounds")
    val sym = symmetricEdges(edges, srcCol, dstCol).localCheckpoint(eager = false)
    kCoreFoldLocal(sym, k, rounds).getOrElse {
      var e = sym
      var remaining = e.count()
      var ran = 0
      var converged = remaining == 0L
      while (ran < rounds && !converged) {
        ran += 1
        val keep = e.groupBy(col("a")).agg(count(lit(1)).as("__d"))
          .filter(col("__d") >= k).select(col("a"))
        e = e.join(keep, Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("a", "b"), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
          .localCheckpoint(eager = false)
        val after = e.count()
        // zero edges removed ⟹ every degree is unchanged ⟹ fixpoint
        converged = after == remaining
        remaining = after
      }
      val out = e.groupBy(col("a")).agg(count(lit(1)).as("degree"))
        .select(col("a").as("node"), col("degree"),
          (col("degree") >= k).as("in_core"))
      (out, ran)
    }
  }

  /** Driver-side replay of the peel cascade — the [[DriverFold]]
    * hybrid with the same early exit (a round that removes zero edges
    * certifies the fixpoint). Returns (result, rounds actually run). */
  private def kCoreFoldLocal(
      sym: DataFrame, k: Int, rounds: Int): Option[(DataFrame, Int)] =
    localEdges(sym, "a", "b").map { case (all, _) =>
      var edges = all
      var ran = 0
      var converged = edges.isEmpty
      while (ran < rounds && !converged) {
        ran += 1
        val deg = new java.util.HashMap[Long, java.lang.Long]()
        edges.foreach { case (a, _, _) =>
          val cur = deg.get(a); deg.put(a, if (cur == null) 1L else cur + 1L)
        }
        val before = edges.length
        edges = edges.filter { case (a, b, _) =>
          deg.get(a) >= k && deg.get(b) >= k
        }
        converged = edges.length == before
      }
      val deg = new java.util.HashMap[Long, java.lang.Long]()
      edges.foreach { case (a, _, _) =>
        val cur = deg.get(a); deg.put(a, if (cur == null) 1L else cur + 1L)
      }
      import org.apache.spark.sql.types._
      import scala.jdk.CollectionConverters._
      val list: java.util.List[Row] =
        deg.entrySet().iterator().asScala
          .map(e2 => Row(e2.getKey.longValue, e2.getValue.longValue, e2.getValue >= k))
          .toSeq.asJava
      val out = sym.sparkSession.createDataFrame(list, StructType(Seq(
        StructField("node", LongType, nullable = false),
        StructField("degree", LongType, nullable = false),
        StructField("in_core", BooleanType, nullable = false))))
      (out, ran)
    }

  /** Exact triangle counting + local clustering coefficient — the
    * density signal beside [[labelPropagation]]'s communities and
    * [[degreeAudit]]'s reciprocity: a domain whose neighborhood is a
    * clique (high coefficient) sits inside an organic site family; a
    * hub whose neighbors never link each other (coefficient ~ 0 at
    * high degree) is the link-farm / directory-shell shape spam
    * triage pages on. Per node: undirected degree, the number of
    * triangles through it, and the local clustering coefficient
    * 2·tri(v) / (deg(v)·(deg(v)−1)) in integer micro units (NULL when
    * deg < 2 — the coefficient is undefined, not zero).
    *
    * Algorithm: the degree-ordered orientation (Suri & Vassilvitskii's
    * MapReduce triangle enumeration / the "forward" algorithm). Edges
    * symmetrize to one canonical undirected row, then each edge is
    * oriented from its lower endpoint to its higher under the total
    * order (degree, id) — packed into one long `degree·2³¹ + id`
    * (ids guarded to [0, 2³¹), the [[labelPropagation]] guard). Every
    * triangle is then counted exactly once: its lowest-order corner
    * emits the wedge (b, c) with key(b) < key(c), and the wedge closes
    * iff the oriented edge b→c exists.
    *
    * Determinism: counts and the micro coefficient are pure integer
    * arithmetic (`div` truncation on non-negative operands = the
    * oracle's `//` floor), so the table hash-gates cross-engine.
    *
    * Scale: the orientation is the whole point — out-degree under the
    * (degree, id) order is O(√|E|) on any graph (and O(arboricity) on
    * real web graphs), so the wedge table is ≤ Σ C(outdeg, 2) ≤
    * |E|^1.5 worst case instead of Σ C(deg, 2), which a raw hub would
    * blow up quadratically. Three hash equi-joins total (two key
    * attachments, one wedge closure on the composite (b, c) key) plus
    * two hash aggregates; the undirected edge list and the oriented
    * list each materialize once (localCheckpoint) because three
    * downstream stages read them. Hot wedge sources skew-split under
    * AQE; nothing broadcasts, nothing sorts globally.
    */
  def triangles(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = pairEdges(edges, srcCol, dstCol)
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint(eager = false)
    // undirected degree; the id-range guard rides the consumed degree
    // column so it fires on first materialization
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))
      .select(
        when(col("node") < 0L || col("node") >= Pack,
          raise_error(concat(lit("triangles: node id outside [0, 2^31): "),
            col("node").cast("string"))).cast("long"))
          .otherwise(col("node")).as("node"),
        col("degree"))
      .localCheckpoint(eager = false)
    val key = deg.select(col("node"), (col("degree") * Pack + col("node")).as("__k"))
    // orient each undirected edge lower-order -> higher-order
    val oriented = und
      .join(key.select(col("node").as("u"), col("__k").as("__ku")), "u")
      .join(key.select(col("node").as("v"), col("__k").as("__kv")), "v")
      .select(
        when(col("__ku") < col("__kv"), col("u")).otherwise(col("v")).as("lo"),
        when(col("__ku") < col("__kv"), col("v")).otherwise(col("u")).as("hi"),
        greatest(col("__ku"), col("__kv")).as("__khi"))
      .localCheckpoint(eager = false)
    // wedges at the lowest-order corner, then close against the
    // oriented list on the (b, c) composite key
    val wedges = oriented.select(col("lo"), col("hi").as("b"), col("__khi").as("__kb"))
      .join(oriented.select(col("lo"), col("hi").as("c"), col("__khi").as("__kc")), Seq("lo"))
      .filter(col("__kb") < col("__kc"))
      .select(col("lo").as("ta"), col("b"), col("c"))
    val tri = wedges
      .join(oriented.select(col("lo").as("b"), col("hi").as("c")), Seq("b", "c"))
      .select(col("ta"), col("b"), col("c"))
    val corners = tri.select(explode(array(col("ta"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(corners, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") >= 2L,
          expr("(2000000 * coalesce(n_tri, 0L)) div (degree * (degree - 1))"))
          .otherwise(lit(null).cast("long")).as("lcc_micro"))
  }
}
