package graft.scale

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Fixed-point PageRank: integer micro-unit power iterations must match
  * a driver-side reference replay exactly (the determinism contract the
  * DuckDB oracle relies on), with standard link-graph hygiene.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Driver-side reference: the same integer arithmetic, map-based. */
  private def referenceRank(
      edges: Seq[(Long, Long)], iterations: Int, dampingPct: Long = 85L): Map[Long, Long] = {
    val e = edges.filter(t => t._1 != t._2).distinct
    val outdeg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iterations) {
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => r(s) / outdeg(s) }.sum
      }
      r = nodes.map(n => n -> ((100L - dampingPct) * 10000L +
        dampingPct * in.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  private def rankMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pageRank equals the integer reference replay on an irregular graph") {
    val edges = (0L until 200L).flatMap { i =>
      Seq((i % 17, (i * 31 + 7) % 17), (i % 13, (i * i + 3) % 17))
    }
    val got = rankMap(Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", 5))
    assert(got == referenceRank(edges, 5))
  }

  test("graph driver fold ≡ distributed loop: rank/weighted/personalized/refresh/hits/seeddist") {
    // the DriverFold hybrid (spark.graft.maxDriverRows): every
    // iterative operator must produce bit-identical frames on both paths
    import org.apache.spark.sql.DataFrame
    val edges = (0L until 300L).map(i => (i % 19, (i * 13 + 5) % 19)).toDF("src", "dst")
    val w = edges.withColumn("w", (col("src") + col("dst")) % 3 + 1)
    val seeds = (0L until 19L by 4).toDF("node")
    val tele = seeds.withColumn("teleport_micro", lit(1000000L))
    def sorted(df: DataFrame) = df.orderBy(df.columns.map(col): _*).collect().toSeq
    def underDistributed[A](f: => A): A =
      SparkTestSession.withConf(DriverFold.Conf, "0")(f)
    def both(f: => DataFrame): Unit = {
      val local = sorted(f)
      val dist = underDistributed(sorted(f))
      assert(local === dist)
    }
    both(Graph.pageRank(edges, "src", "dst", iterations = 5))
    both(Graph.pageRankWeighted(w, "src", "dst", "w", iterations = 4))
    both(Graph.pageRankPersonalized(edges, "src", "dst", tele, iterations = 4))
    val prev = Graph.pageRank(edges, "src", "dst", iterations = 3)
    both(Graph.pageRankRefresh(edges, "src", "dst", prev, iterations = 2))
    both(Graph.hits(edges, "src", "dst", iterations = 4))
    both(Graph.seedDistance(edges, "src", "dst", seeds, maxHops = 4))
    both(Graph.labelPropagation(edges, "src", "dst", iterations = 3))
    both(Graph.labelPropagation(edges, "src", "dst", iterations = 3, selfVote = true))
    both(Graph.kCore(edges, "src", "dst", k = 3, rounds = 6))
  }

  test("deep runs (past the checkpoint cadence) still match the reference") {
    val edges = (0L until 60L).map(i => (i % 9, (i * 5 + 2) % 9))
    val got = rankMap(Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", 9))
    assert(got == referenceRank(edges, 9))
  }

  test("hygiene: self-loops and duplicate edges do not vote") {
    val clean = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val dirty = clean ++ Seq((1L, 1L), (1L, 2L), (1L, 2L), (3L, 3L))
    val a = rankMap(Graph.pageRank(clean.toDF("src", "dst"), "src", "dst", 4))
    val b = rankMap(Graph.pageRank(dirty.toDF("src", "dst"), "src", "dst", 4))
    assert(a == b)
  }

  test("dangling and sink nodes: sinks keep teleport+incoming, isolated sources decay to teleport") {
    // 1 -> 2 -> 3; 3 has no out-links (dangling): its mass is dropped,
    // not redistributed; node 1 has no in-links: pure teleport after i1
    val got = rankMap(Graph.pageRank(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src", "dst", 3))
    assert(got == referenceRank(Seq((1L, 2L), (2L, 3L)), 3))
    assert(got(1L) == 150000L) // teleport only
    assert(got(3L) > got(1L))  // sink accumulates incoming votes
  }

  test("a well-linked hub outranks peripheral nodes") {
    // star: everyone links to 0, 0 links to 1
    val edges = (1L to 8L).map(i => (i, 0L)) :+ (0L, 1L)
    val got = rankMap(Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", 5))
    assert((2L to 8L).forall(i => got(0L) > got(i)))
    assert(got(1L) > got(2L)) // 1 receives the hub's whole vote
  }

  test("rankTiers: fixed ascending cuts, tier 0 above every cut, loud on bad input") {
    val ranks = Seq((1L, 2000000L), (2L, 1100000L), (3L, 900000L), (4L, 100000L))
      .toDF("node", "rank_micro")
    val tiers = Graph.rankTiers(ranks, Seq(800000L, 1000000L, 1200000L))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(tiers == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    assertThrows[IllegalArgumentException](
      Graph.rankTiers(ranks, Seq(3L, 2L)))
    assertThrows[IllegalArgumentException](
      Graph.rankTiers(ranks, Nil))
  }

  /** Weighted reference replay: contribution = r*w / W(u). */
  private def referenceRankW(
      edges: Seq[(Long, Long, Long)], iterations: Int): Map[Long, Long] = {
    val e = edges.filter(t => t._1 != t._2)
      .groupBy(t => (t._1, t._2)).map { case ((s, d), es) => (s, d, es.map(_._3).sum) }
      .filter(_._3 > 0).toSeq
    val outw = e.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iterations) {
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, w) => r(s) * w / outw(s) }.sum
      }
      r = nodes.map(n => n -> (150000L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  test("pageRankWeighted equals its reference; all-weights-1 equals unweighted pageRank") {
    val raw = (0L until 150L).map(i => (i % 13, (i * 7 + 3) % 13, 1L + i % 4))
    val got = rankMap(Graph.pageRankWeighted(
      raw.toDF("src", "dst", "w"), "src", "dst", "w", 5))
    assert(got == referenceRankW(raw, 5))
    // unit weights reduce exactly to the unweighted operator — but only
    // on a deduped edge set (pageRank dedupes, weighted sums multiplicity)
    val uniq = raw.map(t => (t._1, t._2)).distinct
    val viaW = rankMap(Graph.pageRankWeighted(
      uniq.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w"), "src", "dst", "w", 5))
    val viaU = rankMap(Graph.pageRank(uniq.toDF("src", "dst"), "src", "dst", 5))
    assert(viaW == viaU)
  }

  test("pageRankWeighted: a heavier link pulls more rank to its target") {
    // 1 links 2 and 3; the 2-link is 9x heavier
    val got = rankMap(Graph.pageRankWeighted(
      Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
        .toDF("src", "dst", "w"), "src", "dst", "w", 5))
    assert(got(2L) > got(3L))
  }

  test("pageRankPersonalized: uniform 1e6 teleport is EXACTLY pageRank") {
    val edges = (0L until 200L).map(i => (i % 17, (i * 31 + 7) % 17)).toDF("src", "dst")
    val nodes = (0L until 17L).map(n => (n, 1000000L)).toDF("node", "teleport_micro")
    val a = rankMap(Graph.pageRank(edges, "src", "dst", 5))
    val b = rankMap(Graph.pageRankPersonalized(edges, "src", "dst", nodes, 5))
    assert(a == b)
  }

  test("duplicate teleport/init node rows do not fan out the rank table") {
    val edges = (0L until 200L).map(i => (i % 17, (i * 31 + 7) % 17)).toDF("src", "dst")
    val nodes = (0L until 17L).map(n => (n, 1000000L)).toDF("node", "teleport_micro")
    // same teleport vector with every row stamped twice: identical ranks,
    // one row per node (duplicates would double contributions each round)
    val doubled = nodes.union(nodes)
    val a = rankMap(Graph.pageRankPersonalized(edges, "src", "dst", nodes, 5))
    val b = rankMap(Graph.pageRankPersonalized(edges, "src", "dst", doubled, 5))
    assert(a == b)
    val out = Graph.pageRankPersonalized(edges, "src", "dst", doubled, 5)
    assert(out.count() === Graph.pageRank(edges, "src", "dst", 5).count())
    // same guard on the warm-start init frame (pageRankRefresh)
    val r0 = Graph.pageRank(edges, "src", "dst", 3)
    val ref = rankMap(Graph.pageRankRefresh(edges, "src", "dst", r0, 2))
    val refDup = rankMap(Graph.pageRankRefresh(edges, "src", "dst", r0.union(r0), 2))
    assert(ref == refDup)
  }

  test("pageRankPersonalized (TrustRank): rank flows only from the seeded region") {
    // seed {0}; chain 0 -> 1 -> 2; island 3 <-> 4 gets no trust at all
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val seeds = Seq((0L, 1000000L)).toDF("node", "teleport_micro")
    val got = rankMap(Graph.pageRankPersonalized(edges, "src", "dst", seeds, 5))
    assert(got(0L) == 150000L)           // teleport only (nothing links 0)
    assert(got(1L) > 0L && got(2L) > 0L) // damped trust flows down the chain
    assert(got(1L) > got(2L))            // attenuating with distance
    assert(got(3L) == 0L && got(4L) == 0L) // untrusted island: zero
  }

  test("degreeAudit: out/in/reciprocal counts on a hand graph, zero-filled") {
    // 1<->2 reciprocal; 1->3, 3->4 one-way; dup edge + self-loop ignored
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (1L, 3L), (4L, 4L))
      .toDF("src", "dst")
    val got = Graph.degreeAudit(edges, "src", "dst").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((2L, 1L, 1L)), // out: 2,3; in: 2; reciprocal: 1<->2
      2L -> ((1L, 1L, 1L)),
      3L -> ((1L, 1L, 0L)),
      4L -> ((0L, 1L, 0L)))) // pure sink: zero-filled out/reciprocal
  }

  test("iteration monotonicity sanity: total rank mass is bounded by n * 1e6") {
    val edges = (0L until 100L).map(i => (i % 11, (i * 3 + 1) % 11))
    val got = rankMap(Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", 6))
    // with unit init, total mass can only leak (dangling drop + integer
    // truncation), never grow
    assert(got.values.sum <= got.size * 1000000L)
    assert(got.values.forall(_ >= 150000L))
  }

  /** Driver-side HITS reference: the same integer half-steps. */
  private def referenceHits(
      edges: Seq[(Long, Long)], iterations: Int): Map[Long, (Long, Long)] = {
    val e = edges.filter(t => t._1 != t._2).distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    def half(scores: Map[Long, Long], gatherFromSrc: Boolean): Map[Long, Long] = {
      val raw = nodes.map { n =>
        n -> e.collect {
          case (s, d) if gatherFromSrc && d == n => scores(s)
          case (s, d) if !gatherFromSrc && s == n => scores(d)
        }.sum
      }.toMap
      val m = raw.values.max
      raw.map { case (n, r) => n -> r / (m / 1000000L + 1L) }
    }
    var hub = nodes.map(_ -> 1000000L).toMap
    var auth = hub
    for (_ <- 1 to iterations) {
      auth = half(hub, gatherFromSrc = true)
      hub = half(auth, gatherFromSrc = false)
    }
    nodes.map(n => n -> ((auth(n), hub(n)))).toMap
  }

  private def hitsMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("hits equals the integer reference replay on an irregular graph") {
    val edges = (0L until 200L).flatMap { i =>
      Seq((i % 17, (i * 31 + 7) % 17), (i % 13, (i * i + 3) % 17))
    }
    val got = hitsMap(Graph.hits(edges.toDF("src", "dst"), "src", "dst", 4))
    assert(got == referenceHits(edges, 4))
    // deep run past the old checkpoint cadence stays exact too
    val deep = hitsMap(Graph.hits(edges.toDF("src", "dst"), "src", "dst", 6))
    assert(deep == referenceHits(edges, 6))
  }

  test("hits: pure authorities score zero hub and vice versa; dup/self-loop hygiene") {
    // a, b -> c: c is the only authority, a and b are equal pure hubs
    val clean = Seq((10L, 30L), (20L, 30L))
    val got = hitsMap(Graph.hits(clean.toDF("src", "dst"), "src", "dst", 3))
    assert(got(30L)._1 > 0L && got(30L)._2 == 0L) // authority, no out-links
    assert(got(10L) == got(20L))                  // symmetric hubs
    assert(got(10L)._1 == 0L && got(10L)._2 > 0L) // nothing links a
    val dirty = clean ++ Seq((10L, 30L), (20L, 20L))
    assert(hitsMap(Graph.hits(dirty.toDF("src", "dst"), "src", "dst", 3)) == got)
  }

  test("coCitation: shared-source pairs counted, directory sources capped out, hygiene") {
    // sources 1,2,3 all link {10, 11}; source 3 also links 12
    val base = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (3L, 10L), (3L, 11L), (3L, 12L))
    def pairs(edges: Seq[(Long, Long)], cap: Int, min: Long) =
      Graph.coCitation(edges.toDF("src", "dst"), "src", "dst", cap, min)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs(base, cap = 10, min = 2) == Map((10L, 11L) -> 3L))
    // minCommon = 1 also surfaces the single-witness pairs via source 3
    assert(pairs(base, cap = 10, min = 1) ==
      Map((10L, 11L) -> 3L, (10L, 12L) -> 1L, (11L, 12L) -> 1L))
    // a directory source linking 12 > cap destinations is excluded, so
    // its pairs vanish instead of flooding the output
    val withDir = base ++ (20L to 31L).map(d => (9L, d))
    assert(pairs(withDir, cap = 10, min = 2) == Map((10L, 11L) -> 3L))
    // duplicate edges are one witness, self-loops none
    val dirty = base ++ Seq((1L, 10L), (2L, 2L))
    assert(pairs(dirty, cap = 10, min = 2) == pairs(base, cap = 10, min = 2))
  }

  test("pageRankRefresh: unchanged edges = extending the original run; new nodes cold-init") {
    val edges = (0L until 200L).map(i => (i % 17, (i * 31 + 7) % 17)).toDF("src", "dst")
    val warm = rankMap(Graph.pageRankRefresh(edges, "src", "dst",
      Graph.pageRank(edges, "src", "dst", 3), 2))
    assert(warm == referenceRank((0L until 200L).map(i => (i % 17, (i * 31 + 7) % 17)), 5))
    // changed edge set: node 99 is new — it must start at teleport mass
    // (1e6), which after one refresh iteration leaves it at exactly the
    // teleport floor plus its in-flow; a node with no in-links lands at
    // 150000 just like a cold node
    val edges2 = Seq((1L, 2L), (2L, 3L), (99L, 2L)).toDF("src", "dst")
    val got = rankMap(Graph.pageRankRefresh(edges2, "src", "dst",
      Graph.pageRank(edges, "src", "dst", 3), 1))
    assert(got(99L) == 150000L)
    assert(got.contains(3L) && got.keySet == Set(1L, 2L, 3L, 99L))
  }

  test("seedDistance: chain hops, cap -> NULL, min over multiple paths, absent seeds inert") {
    // chain 0->1->...->5, island 10<->11, shortcut 0->3
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (0L, 3L), (10L, 11L), (11L, 10L)).toDF("src", "dst")
    val seeds = Seq(0L, 77L).toDF("node") // 77 is not in the graph
    val got = Graph.seedDistance(edges, "src", "dst", seeds, maxHops = 3)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(
      0L -> Some(0L), 1L -> Some(1L), 2L -> Some(2L),
      3L -> Some(1L),  // the shortcut wins over the 3-hop chain
      4L -> Some(2L), 5L -> Some(3L),
      10L -> None, 11L -> None)) // unreachable island
    // one hop fewer: node 5 falls past the cap
    val capped = Graph.seedDistance(edges, "src", "dst", seeds, maxHops = 2)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(capped(5L).isEmpty && capped(4L) == Some(2L))
  }

  test("hits: a directory hub outscores ordinary nodes on hub, not authority") {
    // 0 links every authority 1..6; the authorities also link each
    // other sparsely (1->2->...->6->1) so 0 is never itself linked
    val edges = (1L to 6L).map(a => (0L, a)) ++ (1L to 6L).map(a => (a, a % 6 + 1))
    val got = hitsMap(Graph.hits(edges.toDF("src", "dst"), "src", "dst", 4))
    assert((1L to 6L).forall(a => got(0L)._2 > got(a)._2),
      "the directory must have the top hub score")
    assert(got(0L)._1 == 0L, "nothing links the directory: zero authority")
  }

  test("labelPropagation: two triangles converge to their min-id labels; bridge survives") {
    // triangles {1,2,3} and {10,11,12} joined by ONE bridge 3-10: CC
    // would merge everything; LPA keeps two communities
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L))
    val got = Graph.labelPropagation(tri.toDF("src", "dst"), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).map(got) == Set(1L), s"left triangle: $got")
    // the right triangle stays a SEPARATE community; its label is 3 —
    // the bridge tie leaked the smaller id as a NAME, not a merge
    // (hand-traced through the 3 synchronous rounds)
    assert(Set(10L, 11L, 12L).map(got) == Set(3L), s"right triangle: $got")
    assert(got(10L) != got(1L), s"communities merged: $got")
    // deterministic across partitionings
    val again = Graph.labelPropagation(
      tri.toDF("src", "dst").repartition(7), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("labelPropagation: synchronous K_{2,2} oscillates with period 2; selfVote converges") {
    // complete bipartite {1,2} x {3,4}: each side adopts the OTHER
    // side's min label every synchronous round, so states flip-flop —
    // the documented oscillation case (iterations is a budget, not a
    // convergence promise; detect a 2-cycle by diffing one extra round)
    val k22 = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    def run(it: Int, sv: Boolean = false) =
      Graph.labelPropagation(k22, iterations = it, selfVote = sv)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val even = run(2); val odd = run(3); val even2 = run(4)
    assert(even === even2, "period-2 oscillation: same state every other round")
    assert(even !== odd, "consecutive rounds differ on the bipartite 2-cycle")
    // each round is still deterministic: a flipped state, not a random
    // one (odd rounds hold the other side's min; even rounds flip back)
    assert(odd === Map(1L -> 3L, 2L -> 3L, 3L -> 1L, 4L -> 1L))
    assert(even === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // selfVote (inertia) breaks the cycle: one community under the min
    // id, stable from round 2 on
    val sv2 = run(2, sv = true); val sv3 = run(3, sv = true)
    assert(sv2 === sv3, "selfVote must converge on the bipartite fixture")
    assert(sv2.values.toSet === Set(1L), s"one community under the min id: $sv2")
    // and it does NOT change the stable-fixture answer (two triangles)
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L)).toDF("src", "dst")
    val a = Graph.labelPropagation(tri, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.labelPropagation(tri, iterations = 3, selfVote = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.groupBy(_._2).values.map(_.keySet).toSet ===
      b.groupBy(_._2).values.map(_.keySet).toSet,
      s"selfVote must preserve the stable communities: $a vs $b")
  }

  test("labelPropagation: direction is ignored, self-loops drop, ids guarded") {
    val directed = Seq((2L, 1L), (3L, 2L), (1L, 3L), (1L, 1L))
    val got = Graph.labelPropagation(directed.toDF("src", "dst"), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(1L), s"one triangle community: $got")
    val bad = Seq((5000000000L, 1L)).toDF("src", "dst")
    val e = intercept[Exception](Graph.labelPropagation(bad).collect())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("outside [0, 2^31)"))
  }

  test("kCore: K5 survives k=4; pendant chain cascades out round by round") {
    // K5 on {1..5} plus a chain 5-10-11-12: the 4-core is exactly K5
    val k5 = for (i <- 1L to 5L; j <- (i + 1L) to 5L) yield (i, j)
    val edges = (k5 ++ Seq((5L, 10L), (10L, 11L), (11L, 12L))).toDF("src", "dst")
    val core4 = Graph.kCore(edges, k = 4, rounds = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(core4.keySet === Set(1L, 2L, 3L, 4L, 5L), s"4-core is K5: $core4")
    assert(core4.values.toSet === Set((4L, true)), "every K5 node keeps degree 4")
    // k=2 peels the chain by CASCADE: round 1 kills 12 (deg 1), round
    // 2 kills 11 (now deg 1), round 3 kills 10 -> a 1-round budget
    // leaves the cascade UNFINISHED and in_core flags it
    val partial = Graph.kCore(edges, k = 2, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(partial.contains(11L) && !partial(11L),
      s"budget-bound peel must flag the unconverged node: $partial")
    val full = Graph.kCore(edges, k = 2, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(full.keySet === Set(1L, 2L, 3L, 4L, 5L), s"chain fully peeled: $full")
    assert(full.values.forall(identity), "converged: every survivor certified")
    // deterministic under repartitioning
    val again = Graph.kCore(edges.repartition(7), k = 4, rounds = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(again === core4)
  }

  test("kCore: early exit at the fixpoint — a huge budget costs only converged+1 rounds") {
    val k5 = for (i <- 1L to 5L; j <- (i + 1L) to 5L) yield (i, j)
    val edges = (k5 ++ Seq((5L, 10L), (10L, 11L), (11L, 12L))).toDF("src", "dst")
    // cascade: r1 kills 12, r2 kills 11, r3 kills 10, r4 removes zero
    // edges -> fixpoint certified, rounds 5..100 never run
    val (res, ran) = Graph.kCorePeel(edges, k = 2, rounds = 100)
    assert(ran === 4, s"peel must stop at the fixpoint, ran $ran rounds")
    val got = res.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // identical to the fixed-budget answer (the shipped key's hash
    // cannot move: early exit only skips no-op rounds)
    val fixed = Graph.kCore(edges, k = 2, rounds = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === fixed)
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    // budget still binds when smaller than the cascade depth
    val (_, ranBound) = Graph.kCorePeel(edges, k = 2, rounds = 2)
    assert(ranBound === 2, "a 2-round budget runs exactly 2 rounds")
    // an already-converged graph certifies in one round
    val (_, ranK5) = Graph.kCorePeel(k5.toDF("src", "dst"), k = 4, rounds = 8)
    assert(ranK5 === 1, s"K5 at k=4 removes nothing: certified after round 1, ran $ranK5")
  }

  test("distributed loops: the analyzed plan is the same size at depth 5 and 5 + CheckpointEvery") {
    // the loop frames are cut every CheckpointEvery rounds, so a deeper
    // run adds no plan nodes: lineage stays bounded at any depth
    import org.apache.spark.sql.DataFrame
    val edges = (0L until 80L).map(i => (i % 13, (i * 5 + 1) % 13)).toDF("src", "dst")
    val seeds = Seq(0L, 7L).toDF("node")
    // a 30-edge path peels one edge per end per round: neither depth converges
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    def planSize(df: DataFrame): Int = df.queryExecution.analyzed.collect { case p => p }.size
    val deep = 5 + Graph.CheckpointEvery
    SparkTestSession.withConf(DriverFold.Conf, "0") {
      Seq[(String, Int => DataFrame)](
        "pageRank" -> (n => Graph.pageRank(edges, "src", "dst", n)),
        "seedDistance" -> (n => Graph.seedDistance(edges, "src", "dst", seeds, n)),
        "labelPropagation" -> (n => Graph.labelPropagation(edges, "src", "dst", n)),
        "hits" -> (n => Graph.hits(edges, "src", "dst", n)),
        "kCore" -> (n => Graph.kCore(chain, "src", "dst", k = 2, rounds = n))
      ).foreach { case (name, run) =>
        assert(planSize(run(5)) === planSize(run(deep)), name)
      }
    }
  }

  test("triangles: K4 + pendant path — exact counts and micro coefficients") {
    // K4 on {1,2,3,4} (4 triangles, every node in 3 of them, lcc = 1)
    // plus a pendant path 4-5-6 (no triangles; node 6 has deg 1 ->
    // NULL coefficient, node 5 has deg 2 and lcc 0)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    val got = Graph.triangles(edges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got(1L) == ((3L, 3L, 1000000L)), s"node 1: $got")
    assert(got(2L) == ((3L, 3L, 1000000L)))
    assert(got(3L) == ((3L, 3L, 1000000L)))
    // node 4 has degree 4 (K4 side + the pendant): 3 triangles of
    // C(4,2)=6 possible -> 500000 micro
    assert(got(4L) == ((4L, 3L, 500000L)), s"node 4: $got")
    assert(got(5L) == ((2L, 0L, 0L)))
    assert(got(6L) == ((1L, 0L, -1L)), "deg-1 coefficient is NULL, not 0")
    // total = sum of corners / 3
    assert(got.values.map(_._2).sum == 12L, "4 triangles x 3 corners")
  }

  test("triangles: direction/duplicates/self-loops collapse; deterministic") {
    // the same triangle stated redundantly: both directions, dupes, a
    // self-loop — hygiene must collapse to ONE triangle
    val noisy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L),
      (1L, 3L), (1L, 1L), (2L, 3L))
    val got = Graph.triangles(noisy.toDF("src", "dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1L, 2L, 1L, 1000000L), (2L, 2L, 1L, 1000000L),
      (3L, 2L, 1L, 1000000L)), s"$got")
    // invariant under repartitioning (pure joins/aggs, no order terms)
    val again = Graph.triangles(noisy.toDF("src", "dst").repartition(7))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(again == got)
    // id-range guard fires loudly
    val bad = Seq((5000000000L, 1L)).toDF("src", "dst")
    val e = intercept[Exception](Graph.triangles(bad).collect())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("outside [0, 2^31)"))
  }
}
