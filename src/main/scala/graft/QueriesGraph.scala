package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.scale.Dedup
import EntryShared._

/** [[SparkEntry]] slice: link-graph quality ranking (PageRank family, HITS, components).
  * Query lambdas and their DuckDB oracle mirrors live side by side;
  * the maps compose into the driver contract in [[SparkEntry]].
  * Determinism rules documented there apply to every entry.
  */
private[graft] object QueriesGraph {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- link-graph domain quality ranking (round-9) ----------------
    // PageRank over a synthetic domain link graph derived
    // deterministically from documents (src = doc_id mod 64, dst from
    // a doc-dependent hash): 5 power iterations in integer micro-units
    // so the oracle can unroll the exact same arithmetic — the
    // crawl-quality signal that feeds the mixture/qfloor operators.
    "x_graph_rank" -> ((s, d) =>
      graft.scale.Graph.pageRank(graphEdges(s, d), "src", "dst", iterations = 5)),

    // HITS hubs & authorities: the link-farm detector PageRank can't
    // see (high hub + low authority = a directory that only points);
    // integer micro-unit half-steps, max-divisor rescale, 4 iterations
    "x_graph_hits" -> ((s, d) =>
      graft.scale.Graph.hits(graphEdges(s, d), "src", "dst", iterations = 4)),

    // synchronous label propagation (3 rounds, packed-argmin ties):
    // the DENSELY-connected communities beside CC's merely-connected
    // components — topic/site-family neighborhoods in the link graph
    "x_graph_lpa" -> ((s, d) =>
      graft.scale.Graph.labelPropagation(graphEdges(s, d), "src", "dst",
        iterations = 3)),

    // co-citation mirror detection: pairs of domains the same sources
    // link, out-degree-capped self-join (cap replayed by the oracle)
    "x_graph_cocite" -> ((s, d) =>
      graft.scale.Graph.coCitation(graphEdges(s, d), "src", "dst",
        maxOutDegree = 48, minCommon = 2)),

    // incremental rank refresh: warm-start 2 iterations over a CHANGED
    // edge set (the % 80 graph adds nodes 64..79, which must cold-init
    // at teleport mass) from the % 64 graph's 3-iteration ranks
    "x_graph_rank_refresh" -> ((s, d) =>
      graft.scale.Graph.pageRankRefresh(graphEdges2(s, d), "src", "dst",
        graft.scale.Graph.pageRank(graphEdges(s, d), "src", "dst", iterations = 3),
        iterations = 2)),

    // bounded-hop distance from trusted seeds (node % 7 = 0, the
    // TrustRank seed set): min-plus iteration, unreached -> NULL
    "x_graph_seeddist" -> ((s, d) => {
      val edges = graphEdges(s, d)
      val seeds = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
        .filter(col("node") % 7 === 0)
      graft.scale.Graph.seedDistance(edges, "src", "dst", seeds, maxHops = 4)
    }),

    // fixed-threshold quality tiers over the rank table (tier 0 =
    // above every cut) + per-tier census — the shape a mixture/qfloor
    // consumer joins on
    "x_graph_tiers" -> ((s, d) => {
      val ranks = graft.scale.Graph.pageRank(graphEdges(s, d), "src", "dst", iterations = 5)
      graft.scale.Graph.rankTiers(ranks, GraphTierCuts)
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("rank_micro")).as("rank_sum"),
          min(col("rank_micro")).as("rank_min"),
          max(col("rank_micro")).as("rank_max"))
    }),

    // WEIGHTED PageRank: every document is one vote, so multi-edges
    // carry their multiplicity as the link weight — hot (src,dst)
    // pairs vote proportionally instead of collapsing to 1
    "x_graph_rank_weighted" -> ((s, d) =>
      graft.scale.Graph.pageRankWeighted(
        graphEdges(s, d).withColumn("w", lit(1L)),
        "src", "dst", "w", iterations = 5)),

    // the advertised composition: link-graph rank tiers feeding
    // curation — keep documents whose domain sits in the top two
    // quality tiers, budget-report per source (tier table is 64 rows
    // → broadcast join, corpus never shuffles)
    "x_graph_qmix" -> ((s, d) => {
      val ranks = graft.scale.Graph.pageRank(graphEdges(s, d), "src", "dst", iterations = 5)
      val tiers = graft.scale.Graph.rankTiers(ranks, GraphTierCuts)
        .select(col("node"), col("tier"))
      T(s, d, "documents")
        .select(col("source"), (col("doc_id") % 64).as("node"),
          graft.scale.TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
        .join(broadcast(tiers), "node")
        .filter(col("tier") <= 1)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens_kept"))
    }),

    // per-node degree/reciprocity audit — the link-exchange (spam-farm)
    // signal next to the rank
    "x_graph_degree" -> ((s, d) =>
      graft.scale.Graph.degreeAudit(graphEdges(s, d), "src", "dst")),

    // weakly-connected domain components over the link graph (the
    // same min-label CC engine as the dedup clusters): isolated link
    // neighborhoods = candidate spam pockets / dead crawl islands
    "x_graph_components" -> ((s, d) => {
      val e = graphEdges(s, d).filter(col("src") =!= col("dst")).distinct()
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      val pairs = e.select(col("src").as("id_a"), col("dst").as("id_b"))
      Dedup.clusters(nodes, "node", pairs)
    }),

    // fixed-budget k-core peel: the dense-subgraph (spam-ring) pull —
    // nodes propped by >= k surviving neighbors after 6 cascade
    // rounds; in_core = the convergence certificate
    "x_graph_kcore" -> ((s, d) =>
      graft.scale.Graph.kCore(graphEdges(s, d), "src", "dst",
        k = 10, rounds = 6)),

    // exact triangle census + local clustering coefficient: the
    // neighborhood-density signal beside LPA's communities — a
    // high-degree node whose neighbors never link each other is the
    // directory-shell / link-farm shape; degree-ordered orientation
    // keeps the wedge join arboricity-bounded
    "x_graph_triangles" -> ((s, d) =>
      graft.scale.Graph.triangles(graphEdges(s, d), "src", "dst")),

    // TrustRank: teleport restricted to a trusted seed set (every 7th
    // domain); non-seed domains earn rank ONLY through damped links
    // from the trusted region
    "x_graph_trust" -> ((s, d) => {
      val e = graphEdges(s, d)
      val seeds = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .filter(col("node") % 7 === 0)
        .withColumn("teleport_micro", lit(1000000L))
      graft.scale.Graph.pageRankPersonalized(e, "src", "dst", seeds, iterations = 5)
    }),
  )

  val oracleSql: Map[String, String] = Map(

    // PageRank unrolled: the fixed iteration count makes the oracle a
    // finite CTE chain replaying the exact integer micro-unit
    // arithmetic (`//` = Spark's `div` on positive longs); every sum
    // is CAST back to BIGINT (DuckDB widens to HUGEINT)
    "x_graph_rank" ->
      (graphRankOracleCtes(5) + "\nSELECT node, r AS rank_micro FROM r5"),

    // label propagation unrolled: per round, neighbor-label votes then
    // the packed argmin (max count, min label) — identical arithmetic
    "x_graph_lpa" -> {
      val rounds = (1 to 3).map { i =>
        s"""v$i AS (SELECT e1.a AS node, l${i - 1}.lab, CAST(count(*) AS BIGINT) AS c
           |  FROM e1 JOIN l${i - 1} ON e1.b = l${i - 1}.node GROUP BY 1, 2),
           |l$i AS (SELECT node,
           |    CAST(min((2147483648 - c) * 2147483648 + lab) % 2147483648 AS BIGINT) AS lab
           |  FROM v$i GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT doc_id % 64 AS a, (doc_id * 31 + n_chars) % 64 AS b
         |  FROM documents
         |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
         |e1 AS (SELECT DISTINCT a, b FROM (
         |    SELECT a, b FROM e0 WHERE a <> b
         |    UNION ALL SELECT b AS a, a AS b FROM e0 WHERE a <> b)),
         |l0 AS (SELECT DISTINCT a AS node, CAST(a AS BIGINT) AS lab FROM e1),
         |$rounds
         |SELECT node, lab AS label FROM l3""".stripMargin
    },

    "x_graph_hits" ->
      (graphHitsOracleCtes(4) +
        "\nSELECT a4.node, a4.s AS auth_micro, h4.s AS hub_micro FROM a4 JOIN h4 USING (node)"),

    // co-citation: the same degree-capped (<= 48) self-join on the
    // shared source, unordered pairs by dst_a < dst_b
    "x_graph_cocite" ->
      """WITH e AS (
        |  SELECT DISTINCT doc_id % 64 AS src, (doc_id * 31 + n_chars) % 64 AS dst
        |  FROM documents WHERE doc_id % 64 <> (doc_id * 31 + n_chars) % 64),
        |keep AS (SELECT src FROM e GROUP BY src HAVING count(*) <= 48),
        |k AS (SELECT e.src, e.dst FROM e JOIN keep USING (src))
        |SELECT a.dst AS dst_a, b.dst AS dst_b, CAST(count(*) AS BIGINT) AS n_common
        |FROM k a JOIN k b ON a.src = b.src AND a.dst < b.dst
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // warm-start refresh: 3 cold iterations on the %64 graph (the CTE
    // chain), then 2 refresh iterations on the %80 graph with init =
    // prior ranks, new nodes cold-initialized at 1e6 teleport mass
    "x_graph_rank_refresh" ->
      (graphRankOracleCtes(3) + """,
        |e2 AS (
        |  SELECT DISTINCT doc_id % 80 AS src, (doc_id * 13 + n_chars) % 80 AS dst
        |  FROM documents WHERE doc_id % 80 <> (doc_id * 13 + n_chars) % 80),
        |deg2 AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e2 GROUP BY 1),
        |nodes2 AS (SELECT src AS node FROM e2 UNION SELECT dst FROM e2),
        |s0 AS (SELECT n.node, CAST(COALESCE(r3.r, 1000000) AS BIGINT) AS r
        |       FROM nodes2 n LEFT JOIN r3 ON n.node = r3.node),
        |s1 AS (
        |  SELECT n.node,
        |         CAST(150000 + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS r
        |  FROM nodes2 n
        |  LEFT JOIN (SELECT e2.dst AS node, s0.r // deg2.outdeg AS contrib
        |             FROM e2 JOIN s0 ON e2.src = s0.node
        |                    JOIN deg2 ON e2.src = deg2.src) c ON n.node = c.node
        |  GROUP BY 1),
        |s2 AS (
        |  SELECT n.node,
        |         CAST(150000 + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS r
        |  FROM nodes2 n
        |  LEFT JOIN (SELECT e2.dst AS node, s1.r // deg2.outdeg AS contrib
        |             FROM e2 JOIN s1 ON e2.src = s1.node
        |                    JOIN deg2 ON e2.src = deg2.src) c ON n.node = c.node
        |  GROUP BY 1)
        |SELECT node, r AS rank_micro FROM s2""".stripMargin),

    "x_graph_seeddist" ->
      (graphSeedDistOracleCtes(4) + """
        |SELECT node, CASE WHEN h >= 999999999 THEN NULL ELSE h END AS hops FROM d4""".stripMargin),

    "x_graph_tiers" ->
      (graphRankOracleCtes(5) + """,
        tiers AS (
          SELECT r AS rank_micro,
                 CAST(3 - ((CASE WHEN r > 800000 THEN 1 ELSE 0 END)
                         + (CASE WHEN r > 1000000 THEN 1 ELSE 0 END)
                         + (CASE WHEN r > 1200000 THEN 1 ELSE 0 END)) AS INTEGER) AS tier
          FROM r5)
        SELECT tier, CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(rank_micro) AS BIGINT) AS rank_sum,
               min(rank_micro) AS rank_min, max(rank_micro) AS rank_max
        FROM tiers GROUP BY 1"""),

    // degree/reciprocity audit over the cleaned edge set
    "x_graph_degree" ->
      """WITH e AS (
        |  SELECT DISTINCT doc_id % 64 AS src, (doc_id * 31 + n_chars) % 64 AS dst
        |  FROM documents WHERE doc_id % 64 <> (doc_id * 31 + n_chars) % 64),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |o AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg FROM e GROUP BY 1),
        |i AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_deg FROM e GROUP BY 1),
        |rc AS (SELECT a.src AS node, CAST(count(*) AS BIGINT) AS reciprocal
        |       FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src GROUP BY 1)
        |SELECT node,
        |       COALESCE(out_deg, 0) AS out_deg,
        |       COALESCE(in_deg, 0) AS in_deg,
        |       COALESCE(reciprocal, 0) AS reciprocal
        |FROM nodes LEFT JOIN o USING (node) LEFT JOIN i USING (node)
        |     LEFT JOIN rc USING (node)""".stripMargin,

    // weighted PageRank: multi-edge multiplicity as the link weight,
    // contribution = (rank * w) // out-weight — same unrolled replay
    "x_graph_rank_weighted" ->
      (graphRankWeightedOracleCtes(5) + "\nSELECT node, r AS rank_micro FROM r5"),

    // TrustRank: the unrolled replay with the teleport vector
    // restricted to seed domains (node % 7 = 0), rank initialized AT
    // the teleport vector
    "x_graph_trust" ->
      (graphTrustOracleCtes(5) + "\nSELECT node, r AS rank_micro FROM r5"),

    // weakly-connected components: recursive min-label closure over
    // the symmetrized edge set (the x_dedup_clusters replay shape).
    // NB inside WITH RECURSIVE a two-branch `a UNION b` CTE is treated
    // as an ITERATION by DuckDB (base/step), not a set union — spell
    // the dedup as DISTINCT over UNION ALL
    "x_graph_components" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT doc_id % 64 AS src, (doc_id * 31 + n_chars) % 64 AS dst
        |  FROM documents WHERE doc_id % 64 <> (doc_id * 31 + n_chars) % 64),
        |nodes AS (SELECT DISTINCT node FROM
        |            (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |edges AS (SELECT DISTINCT src, dst FROM
        |            (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e)),
        |reach(rid, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e2.dst, r.lbl FROM reach r JOIN edges e2 ON e2.src = r.rid),
        |lbls AS (SELECT rid, min(lbl) AS cluster FROM reach GROUP BY 1)
        |SELECT n.node AS id, coalesce(l.cluster, n.node) AS cluster
        |FROM nodes n LEFT JOIN lbls l ON n.node = l.rid""".stripMargin,

    // k-core: the peel unrolled round by round (degree >= k on the
    // SURVIVING subgraph, both endpoints must survive) — the LPA/rank
    // fixed-iteration replay pattern
    "x_graph_kcore" -> {
      val (kk, rounds) = (10, 6)
      val chain = (1 to rounds).map { i =>
        s"""kp$i AS (SELECT a FROM e${i - 1} GROUP BY a HAVING count(*) >= $kk),
           |e$i AS (SELECT e.a, e.b FROM e${i - 1} e
           |        JOIN kp$i x ON e.a = x.a JOIN kp$i y ON e.b = y.a)""".stripMargin
      }.mkString(",\n")
      s"""WITH e00 AS (SELECT doc_id % 64 AS a, (doc_id * 31 + n_chars) % 64 AS b
         |  FROM documents
         |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
         |    AND doc_id % 64 <> (doc_id * 31 + n_chars) % 64),
         |e0 AS (SELECT DISTINCT a, b FROM (
         |    SELECT a, b FROM e00 UNION ALL SELECT b AS a, a AS b FROM e00)),
         |$chain
         |SELECT a AS node, CAST(count(*) AS BIGINT) AS degree,
         |       count(*) >= $kk AS in_core
         |FROM e$rounds GROUP BY 1""".stripMargin
    },

    // triangles: the same degree-ordered orientation replayed — pack
    // key degree*2^31 + node, wedges at the lowest-order corner,
    // closure on the oriented (b, c) edge; `//` = Spark `div` on the
    // non-negative operands
    "x_graph_triangles" ->
      """WITH e0 AS (
        |  SELECT doc_id % 64 AS a, (doc_id * 31 + n_chars) % 64 AS b
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
        |    AND doc_id % 64 <> (doc_id * 31 + n_chars) % 64),
        |und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM e0),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
        |          (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |        GROUP BY 1),
        |k AS (SELECT node, degree * 2147483648 + node AS kk FROM deg),
        |d AS (SELECT CASE WHEN ku.kk < kv.kk THEN und.u ELSE und.v END AS lo,
        |             CASE WHEN ku.kk < kv.kk THEN und.v ELSE und.u END AS hi,
        |             CASE WHEN ku.kk < kv.kk THEN kv.kk ELSE ku.kk END AS khi
        |      FROM und JOIN k ku ON und.u = ku.node JOIN k kv ON und.v = kv.node),
        |w AS (SELECT x.lo AS a, x.hi AS b, y.hi AS c
        |      FROM d x JOIN d y ON x.lo = y.lo AND x.khi < y.khi),
        |t AS (SELECT w.a, w.b, w.c FROM w JOIN d ON d.lo = w.b AND d.hi = w.c),
        |corners AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM
        |  (SELECT a AS node FROM t
        |   UNION ALL SELECT b FROM t
        |   UNION ALL SELECT c FROM t) GROUP BY 1)
        |SELECT deg.node, deg.degree,
        |       CAST(COALESCE(corners.n_tri, 0) AS BIGINT) AS n_tri,
        |       CAST(CASE WHEN deg.degree >= 2
        |          THEN (2000000 * COALESCE(corners.n_tri, 0))
        |               // (deg.degree * (deg.degree - 1))
        |          ELSE NULL END AS BIGINT) AS lcc_micro
        |FROM deg LEFT JOIN corners USING (node)""".stripMargin,

    // rank-tier curation compose: top-2-tier domains keep their docs,
    // token budget per source (the tier table is the broadcast side)
    "x_graph_qmix" ->
      (graphRankOracleCtes(5) + s""",
        |tiers AS (
        |  SELECT node,
        |         CAST(3 - ((CASE WHEN r > 800000 THEN 1 ELSE 0 END)
        |                 + (CASE WHEN r > 1000000 THEN 1 ELSE 0 END)
        |                 + (CASE WHEN r > 1200000 THEN 1 ELSE 0 END)) AS INTEGER) AS tier
        |  FROM r5),
        |docs AS (SELECT source, doc_id % 64 AS node,
        |           CAST(len($toksSql) AS BIGINT) AS tok
        |         FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(tok) AS BIGINT) AS tokens_kept
        |FROM docs JOIN tiers USING (node)
        |WHERE tier <= 1
        |GROUP BY 1""".stripMargin),
  )
}
