package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Rounding
import graft.scale.{Dedup, Sampling, TextAnalysis}
import EntryShared._

/** [[SparkEntry]] slice: exact/near deduplication, incremental indexes, decontamination.
  * Query lambdas and their DuckDB oracle mirrors live side by side;
  * the maps compose into the driver contract in [[SparkEntry]].
  * Determinism rules documented there apply to every entry.
  */
private[graft] object QueriesDedup {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- §7.4 dedup ---------------------------------------------------
    "x_dedup_exact" -> ((s, d) =>
      Dedup.exact(T(s, d, "documents"), "doc_id", Seq("text"))),

    // full-recall banding (bands = numHashes, one slot per band): any
    // pair sharing ONE of 64 minhash slots is a candidate, so a true
    // pair at jaccard j is missed with prob (1−j)^64 (< 1e-9 at the
    // 0.3 threshold) — in practice the verified output equals the
    // exhaustive shingle-Jaccard pair set, which the DuckDB oracle
    // computes via an inverted-index self-join. Production banding
    // (bands < numHashes) stays the API default; this configuration is
    // the correctness gate for the same machinery.
    "x_dedup_minhash" -> ((s, d) =>
      Dedup.nearDupMinhash(T(s, d, "documents"), "doc_id", "text",
        k = 3, numHashes = 64, bands = 64, threshold = 0.3,
        maxBucketSize = 0)), // explicit opt-out: full recall for the oracle,

    // portable two-polynomial fingerprint + uncapped buckets: pigeonhole
    // recall is EXACT, so the output equals the all-pairs Hamming set
    // the DuckDB oracle computes by brute force. The xxhash64 fingerprint
    // and the skew cap stay the production defaults (DedupSpec).
    "x_dedup_simhash" -> ((s, d) =>
      Dedup.nearDupSimhash(T(s, d, "documents"), "doc_id", "text",
        maxHamming = 3, maxBucketSize = 0, portable = true)),

    "x_dedup_ngram" -> ((s, d) =>
      Dedup.nearDupNgram(T(s, d, "documents"), "doc_id", "text", k = 3, threshold = 0.2,
        maxBlockSize = NgramBlockCap)),

    // recrawl delta census: synthesized old (doc_id%7 dropped) and new
    // (doc_id%5 dropped, %3 edited) waves of the same corpus, portable
    // fingerprints, full-outer status classification -> 4-row census
    "x_dedup_snapshot_delta" -> ((s, d) => {
      val docs = T(s, d, "documents")
      def fp(f: DataFrame): DataFrame =
        f.select(col("doc_id"),
          TextAnalysis.portableFingerprint(col("text")).as("fp"))
      val oldWave = fp(docs.filter(col("doc_id") % 7 =!= 0))
      val newWave = fp(docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text"))))
      Dedup.snapshotDelta(oldWave, newWave, "doc_id", "fp")
        .groupBy("status").agg(count(lit(1)).as("n"))
    }),

    // cross-split leakage census: the ROW-LEVEL splitAssign (which
    // scatters near-dups across splits by construction — exactly the
    // hazard splitAssignGrouped guards) audited against the verified
    // n-gram pair set; off-diagonal rows are eval contamination
    "x_dedup_split_leak" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val pairs = Dedup.nearDupNgram(docs, "doc_id", "text",
        k = 3, threshold = 0.2, maxBlockSize = NgramBlockCap)
      val asg = Sampling.splitAssign(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      Dedup.splitLeakageAudit(pairs, asg, "doc_id", "split")
    }),

    // license contamination: planted licenses (every 13th doc copyleft,
    // every 7th an UNLISTED string — the assume-worst path) propagate
    // to the most restrictive per near-dup cluster; census output
    "x_dedup_license" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val lic = docs.select(col("doc_id"),
        when(col("doc_id") % 13 === 0, lit("copyleft"))
          .when(col("doc_id") % 7 === 0, lit("unlisted"))
          .otherwise(lit("permissive")).as("license"))
      Dedup.licensePropagation(corpusClusters(s, d), lic, "doc_id", "license",
          Seq("public", "permissive", "copyleft"))
        .groupBy("license", "effective_license", "is_upgraded")
        .agg(count(lit(1)).as("n"))
    }),

    // boilerplate hub detection: top-20 docs by near-dup pair degree —
    // the exact bounded-aggregate top-k, never a global sort
    "x_dedup_hubs" -> ((s, d) =>
      Dedup.nearDupHubs(
        Dedup.nearDupNgram(T(s, d, "documents"), "doc_id", "text",
          k = 3, threshold = 0.2, maxBlockSize = NgramBlockCap),
        k = 20)),

    // the repair composed with its own proof: scrub train-side docs of
    // leaked pairs (removal can't create new pairs), re-audit — the
    // census keeps a diagonal and the val/test leak, but NO cross-split
    // row touching train survives
    "x_dedup_split_scrub" -> ((s, d) => {
      val docs = T(s, d, "documents")
      // r14 optimization (guide §5): the pair list feeds BOTH the scrub
      // and the re-audit, and the assignment feeds three join sides —
      // without a barrier the banded n-gram pair generation (the
      // expensive stage) ran twice per query. Materialize both once;
      // values are bit-identical, the oracle is untouched.
      val pairs = Dedup.nearDupNgram(docs, "doc_id", "text",
        k = 3, threshold = 0.2, maxBlockSize = NgramBlockCap)
        .localCheckpoint()
      val asg = Sampling.splitAssign(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")) // the audit's two columns — never materialize text
        .localCheckpoint()
      val clean = Dedup.scrubLeakedDocs(pairs, asg, "doc_id", "split")
        .localCheckpoint()
      Dedup.splitLeakageAudit(pairs, clean, "doc_id", "split")
    }),

    // asymmetric containment: inverted-index candidates (df-capped at
    // the production default — the oracle replays the same cap), exact
    // merge-walk intersection counts; catches near-subset pairs whose
    // Jaccard is tiny
    "x_dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(T(s, d, "documents"), "doc_id", "text",
        k = 3, threshold = 0.5, maxShingleDocs = NgramBlockCap)),

    // full-recall banding again (cf. x_dedup_minhash): 2-bit keys over
    // 48 tables miss a cosine-0.4 pair with prob (1-(1-acos(.4)/pi)^2)^48
    // < 3e-11 — in practice the output equals the exhaustive cosine
    // pair set, which the DuckDB oracle computes all-pairs. Production
    // banding (wider keys, fewer tables) stays the API default; this
    // config is the correctness gate for the same machinery, run on a
    // bounded 1000-vector slice (the low-bit banding is quadratic by
    // design — the gate doesn't need the whole corpus to exercise it).
    "x_dedup_embedding" -> ((s, d) =>
      Dedup.nearDupEmbedding(
        T(s, d, "embeddings").filter(col("vec_id") < 1000),
        "vec_id", "embedding", bits = 2, tables = 48, threshold = 0.4)
        .select(col("id_a"), col("id_b"),
          Rounding.halfUp(col("cosine"), 6).as("cosine"))),

    // SemDeDup in its oracle configuration: nlist = 1 puts the whole
    // (bounded) slice in one cell, so within-cell comparison IS the
    // exhaustive all-pairs cosine the DuckDB oracle computes — the
    // whole chain (quantizer fit, cell assignment, in-cell self-join,
    // id-pair-then-fetch verify) hash-checked. Clustered production
    // configs (nlist ~ sqrt n) are DedupSpec-bound. Distinct slice and
    // threshold from x_dedup_embedding so the gates can't mask.
    "x_dedup_semantic" -> ((s, d) =>
      Dedup.semanticDedupPairs(
        T(s, d, "embeddings").filter(col("vec_id") < 600),
        "vec_id", "embedding", nlist = 1, threshold = 0.35,
        maxCellSize = 0) // explicit opt-out: the one oracle cell is the slice
        .select(col("id_a"), col("id_b"),
          Rounding.halfUp(col("cosine"), 6).as("cosine"))),

    // incremental semantic dedup: a new wave probed against the
    // accepted corpus' persisted cell index under SAVED centroids —
    // the full fit→save→load→index→probe composition. nlist=1 makes
    // recall exact (every batch×index pair is a candidate), so the
    // oracle is the all-pairs batch×index cosine; threshold/slices
    // differ from x_dedup_semantic so the gates can't mask.
    "x_dedup_semantic_incr" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      // modulo slices, not id ranges: non-empty at EVERY scale factor
      // (sf0.01 ships only 500 vectors — a fixed id range above that
      // made this gate vacuous on shipped data)
      val accepted = emb.filter(col("vec_id") % 10 >= 3)
      val batch = emb.filter(col("vec_id") % 10 < 3)
      val dir = graft.scale.Models.tempArtifactDir("graft-sem-model")
      graft.scale.Models.saveCentroids(s,
        graft.scale.Similarity.fitIvfCentroids(accepted, "vec_id", "embedding", nlist = 1), dir)
      val cents = graft.scale.Models.loadCentroids(s, dir)
      Dedup.semanticDedupPairsAgainstIndex(
        batch, Dedup.semanticCellIndex(accepted, "vec_id", "embedding", cents),
        "vec_id", "embedding", cents, threshold = 0.3, maxCellSize = 0)
        .select(col("id_a"), col("id_b"),
          Rounding.halfUp(col("cosine"), 6).as("cosine"))
    }),

    "x_dedup_contam" -> ((s, d) =>
      Dedup.crossDocNgramStats(T(s, d, "documents"), "doc_id", "text", k = 5)),

    // eval-set decontamination: the "benchmark" is a deterministic slice
    // of the corpus (doc_id % 37), so the oracle can rebuild it — the
    // operator itself takes ANY external benchmark frame
    "x_dedup_decontam" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Dedup.contaminationAgainst(
        docs, docs.filter(col("doc_id") % 37 === 0).select(col("text")),
        "doc_id", "text", k = 5)
    }),

    // the Bloom-prefiltered decontamination (exact output — the filter
    // is a cost shape, spec-asserted ≡ contaminationAgainst); distinct
    // benchmark slice so the two gates can't mask each other
    "x_dedup_decontam_bloom" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Dedup.decontaminateBloom(
        docs, docs.filter(col("doc_id") % 41 === 0).select(col("text")),
        "doc_id", "text", k = 5)
    }),

    // clustered over the n-gram pair graph (same pairs as x_dedup_ngram)
    // so the whole chain — shingling, blocking, Jaccard, connected
    // components — is DuckDB-mirrorable (recursive CTE oracle). The
    // assignment is the fit-once snapshot all four cluster consumers
    // read (cluster once to storage, consume many — the production
    // pricing, cf. the clean-corpus snapshot)
    "x_dedup_clusters" -> ((s, d) => corpusClusters(s, d)),

    // quality-aware survivor election: each near-dup cluster keeps its
    // best CLASSIFIER-scored member (score desc, id asc), not min-id —
    // the production dedup epilogue composed from the clusters frame +
    // the hashed-classifier scores
    "x_dedup_bestrep" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val clustersDf = corpusClusters(s, d)
      val model = fittedClassifier(s, d, buckets = 1024)
      val scored = TextAnalysis.hashedClassifierScore(docs, "doc_id", "text", model, buckets = 1024)
      Dedup.electRepresentatives(clustersDf, scored, "doc_id", "score_micro")
        .select(col("cluster"), col("id"),
          col("score_micro").cast("long").as("score_micro"))
    }),

    // cluster-size census over the same component assignment — the
    // "how much duplication, in what clump sizes" audit a dedup run
    // reports (Dedup.clusterSizeCensus: two tiny aggregates on top of
    // the clusters frame; a library caller passes an existing frame)
    "x_dedup_cluster_sizes" -> ((s, d) =>
      Dedup.clusterSizeCensus(corpusClusters(s, d))),

    // threshold sweep: jaccard histogram over the candidate graph run
    // at a LOW floor (0.05) — the "what would threshold X delete?"
    // tuning audit; nbands-group aggregate over the pair frame
    "x_dedup_threshold_sweep" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val pairs = Dedup.nearDupNgram(docs, "doc_id", "text", k = 3,
        threshold = 0.05, maxBlockSize = NgramBlockCap)
      Dedup.pairThresholdSweep(pairs, nbands = 10)
    }),

    // cross-source overlap census on a planted "recrawl" delivery (a
    // fifth of the corpus re-ingested under a new source label — the
    // scenario the matrix exists to catch; the raw synthetic sources
    // share no exact text, so the fixture makes the overlap non-empty)
    "x_dedup_overlap" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val recrawl = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("source", lit("recrawl"))
      Dedup.sourceOverlapMatrix(docs.unionByName(recrawl), "text", "source")
    }),

    // keep-best exact dedup: among docs with identical normalized
    // content, keep the longest raw text (then min id) — the "best
    // source wins" policy
    "x_dedup_keepbest" -> ((s, d) => {
      val docs = T(s, d, "documents")
        .withColumn("__norm", array_join(TextAnalysis.tokens(col("text")), " "))
      Dedup.exactKeepBest(docs, "doc_id", Seq("__norm"), "n_chars")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // incremental ingest: docs >= 400 are "the new delivery", the rest
    // are the already-accepted index; survivors have novel content
    "x_dedup_incr" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Dedup.dedupAgainstIndex(
        docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
        "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // incremental NEAR-dup: the new delivery's band buckets probe the
    // accepted corpus' persisted band index (same split as
    // x_dedup_incr); full-recall banding (bands = numHashes — cf.
    // x_dedup_minhash) makes the verified cross-pair set equal the
    // exhaustive batch×index shingle-Jaccard join the oracle computes
    "x_dedup_incr_minhash" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val batch = docs.filter(col("doc_id") >= 400)
      val accepted = docs.filter(col("doc_id") < 400)
      Dedup.nearDupMinhashAgainstIndex(
        batch,
        Dedup.minhashBandIndex(accepted, "doc_id", "text", k = 3, numHashes = 64, bands = 64),
        Dedup.hashedShingleTable(accepted, "doc_id", "text", k = 3),
        "doc_id", "text", k = 3, numHashes = 64, bands = 64, threshold = 0.3,
        maxBucketSize = 0) // explicit opt-out: full recall for the oracle
    }),

    // content-defined chunking: every chunk row (boundaries, portable
    // chunk hash) re-derived by the oracle's per-position window fold
    "x_dedup_cdc" -> ((s, d) =>
      Dedup.cdcChunkTable(T(s, d, "documents"), "doc_id", "text", w = 8, divisor = 64)),

    // URL-keyed crawl dedup: canonical URL (tracking params stripped,
    // authority case-folded) as the exact-dedup key — tracking-variant
    // URLs collapse to one group, min doc id represents. The standard
    // crawl-level dedup composed from canonicalizeUrl + Dedup.exact.
    "x_dedup_urlkey" -> ((s, d) => {
      val docs = T(s, d, "documents").withColumn("url",
        concat(lit("https://Site"), col("doc_id") % 20, lit(".example.com/page"),
          col("doc_id") % 50, lit("?utm_source=x"), col("doc_id")))
      Dedup.exact(
        docs.withColumn("curl", TextAnalysis.canonicalizeUrl(col("url"))),
        "doc_id", Seq("curl"))
    }),

    // character-level near-dup over derived 40-char titles. Blocking
    // MUST be tighter than the document family's (lenband, t0) here:
    // 40-char titles share one length band and ~|vocab| first tokens,
    // so blocks grow linearly with the corpus and the pair count
    // quadratically — the 10x suite gate measured 10.4 s -> 106 s
    // (sf0.1 -> sf1) before the 10-char-prefix block was added, ~1 s
    // after. The standard blocking recall trade: an edit inside the
    // first 10 chars now breaks the pair (documented, same contract
    // as every blocked family).
    "x_dedup_editdist" -> ((s, d) =>
      Dedup.nearDupEditDistance(
        T(s, d, "documents").select(col("doc_id"),
          substring(col("text"), 1, 40).as("text"),
          substring(col("text"), 1, 10).as("pblock")),
        "doc_id", "text", maxDistPct = 15, extraBlockCols = Seq("pblock"))),
  )

  val oracleSql: Map[String, String] = Map(

    "x_dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, text, CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY text""".stripMargin,

    // Jaccard over string shingle sets == the engine's hashed shingle sets
    // (64-bit xxhash collisions are ~1e-15 at these set sizes). The t0
    // equi-join drops null first tokens (empty docs) — none exist here.
    "x_dedup_ngram" -> ngramPairsSqlFrom("documents"),

    // same wave synthesis + portable fingerprint; presence by join
    // side, fingerprint equality null-safe (IS NOT DISTINCT FROM)
    "x_dedup_snapshot_delta" ->
      s"""WITH oldw AS (SELECT doc_id,
         |    ${polyHashSqlOf(s"array_to_string($toksSql, ' ')")} AS fp
         |  FROM documents WHERE doc_id % 7 <> 0),
         |nw0 AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN text || ' edited' ELSE text END AS text
         |  FROM documents WHERE doc_id % 5 <> 0),
         |neww AS (SELECT doc_id,
         |    ${polyHashSqlOf(s"array_to_string($toksSql, ' ')")} AS fp
         |  FROM nw0),
         |j AS (SELECT o.doc_id AS ko, n.doc_id AS kn, o.fp AS fo, n.fp AS fn
         |      FROM oldw o FULL OUTER JOIN neww n ON o.doc_id = n.doc_id)
         |SELECT CASE WHEN ko IS NULL THEN 'added'
         |            WHEN kn IS NULL THEN 'removed'
         |            WHEN fo IS NOT DISTINCT FROM fn THEN 'unchanged'
         |            ELSE 'changed' END AS status,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM j GROUP BY 1""".stripMargin,

    // license propagation: the CC CTE + rank mapping; effective = max
    // rank per cluster, ties to the GREATEST license string (only
    // equal strings or unknowns can tie under a total ranking)
    "x_dedup_license" ->
      s"""WITH RECURSIVE ${ngramClusterCtes("documents")},
         |clu AS (SELECT d.doc_id AS id, coalesce(l.cluster, d.doc_id) AS cluster
         |        FROM documents d LEFT JOIN lbls l ON d.doc_id = l.rid),
         |lic AS (SELECT doc_id AS id,
         |          CASE WHEN doc_id % 13 = 0 THEN 'copyleft'
         |               WHEN doc_id % 7 = 0 THEN 'unlisted'
         |               ELSE 'permissive' END AS license
         |        FROM documents),
         |lr AS (SELECT id, license,
         |         CASE license WHEN 'public' THEN CAST(0 AS BIGINT)
         |                      WHEN 'permissive' THEN 1
         |                      WHEN 'copyleft' THEN 2
         |                      ELSE 3 END AS license_rank
         |       FROM lic),
         |j AS (SELECT c.cluster, lr.id, lr.license, lr.license_rank
         |      FROM clu c JOIN lr ON c.id = lr.id),
         |er AS (SELECT cluster, CAST(max(license_rank) AS BIGINT) AS effective_rank
         |       FROM j GROUP BY 1),
         |el AS (SELECT j.cluster, max(j.license) AS effective_license
         |       FROM j JOIN er ON j.cluster = er.cluster
         |                     AND j.license_rank = er.effective_rank
         |       GROUP BY 1)
         |SELECT j.license, el.effective_license,
         |       er.effective_rank > j.license_rank AS is_upgraded,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM j JOIN er ON j.cluster = er.cluster
         |       JOIN el ON j.cluster = el.cluster
         |GROUP BY 1, 2, 3""".stripMargin,

    // hub degrees over the same pair CTE; (degree desc, doc_id asc)
    // is the BoundedTopK order, LIMIT replays the exact top-k
    "x_dedup_hubs" ->
      s"""WITH pairs AS (${ngramPairsSqlFrom("documents")}),
         |deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
         |          SELECT id_a AS doc_id FROM pairs
         |          UNION ALL SELECT id_b FROM pairs)
         |        GROUP BY 1)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, degree
         |FROM deg ORDER BY degree DESC, doc_id ASC LIMIT 20""".stripMargin,

    // the ngram pair CTE joined to the splitAssign uniform (identical
    // affine hash + Scala-computed cumulative cuts as x_corpus_split);
    // unordered split cells via least/greatest, distinct-doc count via
    // a two-sided UNION (dedups)
    "x_dedup_split_leak" -> {
      val cuts = Sampling.splitCuts(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      s"""WITH pairs AS (${ngramPairsSqlFrom("documents")}),
         |u AS (SELECT doc_id,
         |    CAST(((doc_id % 1000003) * 514229 + 741103) % 1000003 AS DOUBLE) / 1000003.0 AS u
         |  FROM documents),
         |sp AS (SELECT doc_id,
         |         CASE WHEN u < ${cuts(0)} THEN 'train'
         |              WHEN u < ${cuts(1)} THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM u),
         |j AS (SELECT p.id_a, p.id_b, sa.split AS sa, sb.split AS sb
         |      FROM pairs p JOIN sp sa ON p.id_a = sa.doc_id
         |                   JOIN sp sb ON p.id_b = sb.doc_id),
         |cells AS (SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
         |                 id_a, id_b FROM j),
         |np AS (SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM cells GROUP BY 1, 2),
         |nd AS (SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_docs FROM (
         |         SELECT split_a, split_b, id_a AS id FROM cells
         |         UNION
         |         SELECT split_a, split_b, id_b FROM cells)
         |       GROUP BY 1, 2)
         |SELECT np.split_a, np.split_b, n_pairs, n_docs,
         |       np.split_a <> np.split_b AS is_leak
         |FROM np JOIN nd USING (split_a, split_b)""".stripMargin
    },

    // scrub then re-audit: the leaked train-side ids drop (UNION dedups
    // the list), the pair set re-joins against the survivors only
    "x_dedup_split_scrub" -> {
      val cuts = Sampling.splitCuts(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      s"""WITH pairs AS (${ngramPairsSqlFrom("documents")}),
         |u AS (SELECT doc_id,
         |    CAST(((doc_id % 1000003) * 514229 + 741103) % 1000003 AS DOUBLE) / 1000003.0 AS u
         |  FROM documents),
         |sp AS (SELECT doc_id,
         |         CASE WHEN u < ${cuts(0)} THEN 'train'
         |              WHEN u < ${cuts(1)} THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM u),
         |j0 AS (SELECT p.id_a, p.id_b, sa.split AS sa, sb.split AS sb
         |       FROM pairs p JOIN sp sa ON p.id_a = sa.doc_id
         |                    JOIN sp sb ON p.id_b = sb.doc_id),
         |drp AS (SELECT id_a AS id FROM j0 WHERE sa <> sb AND sa = 'train'
         |        UNION
         |        SELECT id_b FROM j0 WHERE sa <> sb AND sb = 'train'),
         |sp2 AS (SELECT sp.* FROM sp LEFT JOIN drp ON sp.doc_id = drp.id
         |        WHERE drp.id IS NULL),
         |j AS (SELECT p.id_a, p.id_b, sa.split AS sa, sb.split AS sb
         |      FROM pairs p JOIN sp2 sa ON p.id_a = sa.doc_id
         |                   JOIN sp2 sb ON p.id_b = sb.doc_id),
         |cells AS (SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
         |                 id_a, id_b FROM j),
         |np AS (SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM cells GROUP BY 1, 2),
         |nd AS (SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_docs FROM (
         |         SELECT split_a, split_b, id_a AS id FROM cells
         |         UNION
         |         SELECT split_a, split_b, id_b FROM cells)
         |       GROUP BY 1, 2)
         |SELECT np.split_a, np.split_b, n_pairs, n_docs,
         |       np.split_a <> np.split_b AS is_leak
         |FROM np JOIN nd USING (split_a, split_b)""".stripMargin
    },

    // same k=3 shingle construction as the ngram oracle; inverted-index
    // candidates with the identical df cap (a shingle either fully
    // survives or fully drops — bucket size counted over DOCS, i.e. the
    // sum of group sizes); intersection over the FULL sets. Identical
    // shingle-SET docs collapse to one group before the quadratic
    // index join (cf. ngramPairsSqlFrom): cross-group member pairs
    // inherit the group pair's stats with n_a/n_b swapped to follow
    // least/greatest id order, same-group members share everything
    // (containment 1) and expand only when the group still owns at
    // least one surviving index shingle — exactly the doc-level pair
    // condition. Keeps the dup-heavy 10x replay inside the gate budget.
    "x_dedup_containment" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |    list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
         |                       ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
         |  FROM d),
         |cg AS (SELECT sh, min(doc_id) AS gid, list_sort(list(doc_id)) AS mem,
         |              CAST(count(*) AS BIGINT) AS gsz
         |       FROM s GROUP BY sh),
         |ginv0 AS (SELECT gid, gsz, unnest(sh) AS g FROM cg),
         |ginv AS (SELECT gid, g FROM
         |    (SELECT gid, g, sum(gsz) OVER (PARTITION BY g) AS bsz FROM ginv0)
         |  WHERE bsz <= $NgramBlockCap),
         |gp AS (SELECT DISTINCT a.gid AS ga, b.gid AS gb
         |       FROM ginv a JOIN ginv b ON a.g = b.g AND a.gid < b.gid),
         |gv AS (SELECT ca.mem AS ma, cb.mem AS mb,
         |         len(list_intersect(ca.sh, cb.sh)) AS ns,
         |         len(ca.sh) AS na, len(cb.sh) AS nb
         |       FROM gp JOIN cg ca ON gp.ga = ca.gid JOIN cg cb ON gp.gb = cb.gid),
         |x1 AS (SELECT unnest(ma) AS x, mb, ns, na, nb FROM gv),
         |x2 AS (SELECT x, unnest(mb) AS y, ns, na, nb FROM x1),
         |xp AS (SELECT least(x, y) AS id_a, greatest(x, y) AS id_b,
         |         CAST(ns AS BIGINT) AS n_shared,
         |         CAST(CASE WHEN x < y THEN na ELSE nb END AS BIGINT) AS n_a,
         |         CAST(CASE WHEN x < y THEN nb ELSE na END AS BIGINT) AS n_b
         |       FROM x2),
         |ig AS (SELECT DISTINCT gid FROM ginv),
         |i1 AS (SELECT unnest(mem) AS x, mem, len(sh) AS na
         |       FROM cg JOIN ig USING (gid) WHERE len(mem) > 1),
         |i2 AS (SELECT x, unnest(mem) AS y, na FROM i1),
         |ip AS (SELECT x AS id_a, y AS id_b, CAST(na AS BIGINT) AS n_shared,
         |         CAST(na AS BIGINT) AS n_a, CAST(na AS BIGINT) AS n_b
         |       FROM i2 WHERE x < y),
         |u AS (SELECT * FROM xp UNION ALL SELECT * FROM ip)
         |SELECT id_a, id_b, n_shared, n_a, n_b,
         |       CAST(n_shared AS DOUBLE) / n_a AS cont_a,
         |       CAST(n_shared AS DOUBLE) / n_b AS cont_b
         |FROM u
         |WHERE greatest(CAST(n_shared AS DOUBLE) / n_a, CAST(n_shared AS DOUBLE) / n_b) >= 0.5""".stripMargin,

    // distinct 5-shingles per doc; nd == document frequency
    "x_dedup_contam" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |        unnest(list_distinct(CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
         |                 ELSE list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')) END)) AS sh
         |      FROM d),
         |f AS (SELECT sh, CAST(count(*) AS BIGINT) AS nd FROM s GROUP BY 1)
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(count(*) FILTER (WHERE f.nd >= 2) AS BIGINT) AS n_shared,
         |       CAST(count(*) FILTER (WHERE f.nd >= 2) AS DOUBLE) / count(*) AS dup_ratio
         |FROM s JOIN f USING (sh) GROUP BY 1""".stripMargin,

    // same k=5 string-shingle mirror as x_dedup_contam (hash equality ≡
    // string equality on the Spark side); benchmark = the doc_id % 37
    // slice rebuilt in SQL
    "x_dedup_decontam" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |        unnest(list_distinct(CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
         |                 ELSE list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')) END)) AS sh
         |      FROM d),
         |b AS (SELECT DISTINCT sh FROM (
         |        SELECT unnest(list_distinct(CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
         |                 ELSE list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')) END)) AS sh
         |        FROM d WHERE doc_id % 37 = 0))
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(coalesce(sum(CASE WHEN b.sh IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_contaminated,
         |       CAST(coalesce(sum(CASE WHEN b.sh IS NOT NULL THEN 1 END), 0) AS DOUBLE) / count(*) AS contam_ratio
         |FROM s LEFT JOIN b ON s.sh = b.sh GROUP BY 1""".stripMargin,

    // Bloom-prefiltered variant: output is EXACT (the prefilter only
    // reshapes cost), so the oracle is the same exact-join replay on
    // the % 41 benchmark slice
    "x_dedup_decontam_bloom" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |        unnest(list_distinct(CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
         |                 ELSE list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')) END)) AS sh
         |      FROM d),
         |b AS (SELECT DISTINCT sh FROM (
         |        SELECT unnest(list_distinct(CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
         |                 ELSE list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')) END)) AS sh
         |        FROM d WHERE doc_id % 41 = 0))
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(coalesce(sum(CASE WHEN b.sh IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_contaminated,
         |       CAST(coalesce(sum(CASE WHEN b.sh IS NOT NULL THEN 1 END), 0) AS DOUBLE) / count(*) AS contam_ratio
         |FROM s LEFT JOIN b ON s.sh = b.sh GROUP BY 1""".stripMargin,

    // min-reachable-id connected components over the same n-gram pair
    // graph, as a recursive CTE; singletons keep their own id
    "x_dedup_clusters" ->
      s"""WITH RECURSIVE ${ngramClusterCtes("documents")}
         |SELECT d.doc_id AS id, coalesce(l.cluster, d.doc_id) AS cluster
         |FROM documents d LEFT JOIN lbls l ON d.doc_id = l.rid""".stripMargin,

    // the clusters CC chain + the shared classifier CTEs, then the
    // argmax window (score desc, id asc) — rank-1 replays the bounded
    // top-1 aggregate's total order
    "x_dedup_bestrep" ->
      s"""WITH RECURSIVE ${ngramClusterCtes("documents")},
         |clu AS (SELECT d.doc_id AS id, coalesce(l.cluster, d.doc_id) AS cluster
         |        FROM documents d LEFT JOIN lbls l ON d.doc_id = l.rid),
         |${hashClfCtes(1024)},
         |rnk AS (SELECT c.cluster, c.id, hsc.score_micro,
         |               row_number() OVER (PARTITION BY c.cluster
         |                 ORDER BY hsc.score_micro DESC, c.id ASC) AS rk
         |        FROM clu c JOIN hsc ON c.id = hsc.doc_id)
         |SELECT cluster, id, score_micro FROM rnk WHERE rk = 1""".stripMargin,

    // overlap census: DISTINCT (source, portable fp) then the
    // fp-equality self-join — same planted recrawl fixture both sides
    "x_dedup_overlap" ->
      s"""WITH all_docs AS (
         |  SELECT text, source FROM documents
         |  UNION ALL
         |  SELECT text, 'recrawl' AS source FROM documents WHERE doc_id % 5 = 0),
         |f AS (SELECT DISTINCT source,
         |    ${polyHashSqlOf(s"array_to_string($toksSql, ' ')")} AS fp
         |  FROM all_docs WHERE source IS NOT NULL AND text IS NOT NULL)
         |SELECT a.source AS source_a, b.source AS source_b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,

    // same recursive components as x_dedup_clusters, aggregated twice:
    // cluster → size → how many clusters of each size (the census row)
    "x_dedup_cluster_sizes" ->
      s"""WITH RECURSIVE ${ngramClusterCtes("documents")},
         |asg AS (SELECT d.doc_id AS id, coalesce(l.cluster, d.doc_id) AS cluster
         |        FROM documents d LEFT JOIN lbls l ON d.doc_id = l.rid),
         |cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz FROM asg GROUP BY 1)
         |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters FROM cs GROUP BY 1""".stripMargin,

    // exhaustive shingle-Jaccard pairs via an inverted-index self-join
    // (no blocking): every pair with jaccard > 0 shares a shingle, so
    // the index join has full recall; the Spark side's 64-slot banding
    // misses a j≥0.3 pair with prob (1−j)^64 — vanishing, and verified
    // empirically at all test SFs
    "x_dedup_minhash" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |    list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
         |                       ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
         |  FROM d),
         |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
         |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |z AS (SELECT doc_id, len(sh) AS n FROM s)
         |SELECT c.id_a, c.id_b,
         |       CAST(c.inter AS DOUBLE) / (za.n + zb.n - c.inter) AS jaccard
         |FROM c JOIN z za ON za.doc_id = c.id_a JOIN z zb ON zb.doc_id = c.id_b
         |WHERE CAST(c.inter AS DOUBLE) / (za.n + zb.n - c.inter) >= 0.3""".stripMargin,

    // same inverted-index join restricted to batch x accepted pairs
    // (the incremental probe never re-pairs the settled index side)
    "x_dedup_incr_minhash" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |    list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
         |                       ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
         |  FROM d),
         |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
         |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id >= 400 AND b.doc_id < 400 GROUP BY 1, 2),
         |z AS (SELECT doc_id, len(sh) AS n FROM s)
         |SELECT c.id_a, c.id_b,
         |       CAST(c.inter AS DOUBLE) / (za.n + zb.n - c.inter) AS jaccard
         |FROM c JOIN z za ON za.doc_id = c.id_a JOIN z zb ON zb.doc_id = c.id_b
         |WHERE CAST(c.inter AS DOUBLE) / (za.n + zb.n - c.inter) >= 0.3""".stripMargin,

    // threshold sweep: the same pair CTE at the 0.05 floor, banded
    "x_dedup_threshold_sweep" ->
      s"""WITH pairs AS (${ngramPairsSqlFrom("documents", 0.05)})
         |SELECT least(9, CAST(floor(jaccard * 10) AS BIGINT)) AS band,
         |       CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs GROUP BY 1""".stripMargin,

    // brute-force mirror of the portable 60-bit SimHash: per-token
    // 31-/131-base polynomial hashes over codepoints (same fold as s7),
    // per-bit majority, then all-pairs Hamming via xor + bit_count.
    // The Spark side's pigeonhole bucketing has exact recall, so the
    // pair sets match exactly.
    "x_dedup_simhash" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |th AS (SELECT doc_id, unnest(list_transform(toks, t ->
         |         [${polyHashSqlOf("t")},
         |          ${polyHashSqlOf("t", 131)}])) AS h
         |       FROM d),
         |bits AS (SELECT doc_id, j,
         |           sum((CASE WHEN j < 30 THEN (h[1] >> j) & 1 ELSE (h[2] >> (j - 30)) & 1 END) * 2 - 1) AS sgn
         |         FROM th, range(0, 60) t(j) GROUP BY 1, 2),
         |fps AS (SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS f
         |        FROM bits GROUP BY 1),
         |fp AS (SELECT d.doc_id, coalesce(fps.f, 0) AS f FROM d LEFT JOIN fps ON d.doc_id = fps.doc_id),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.f, b.f)) AS hamming
         |      FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM p WHERE hamming <= 3""".stripMargin,

    // exhaustive all-pairs cosine — the full-recall LSH config's output
    // (see the x_dedup_embedding query comment); same fold order as the
    // kNN oracles so the doubles are bit-identical
    "x_dedup_embedding" ->
      """WITH s AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y)) AS dt,
        |    sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(a.embedding) AS x))) AS na,
        |    sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(b.embedding) AS y))) AS nb
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id < 1000 AND b.vec_id < 1000),
        |c AS (SELECT id_a, id_b, CASE WHEN na * nb > 0 THEN dt / (na * nb) ELSE 0 END AS cos FROM s)
        |SELECT id_a, id_b, floor(cos * 1000000 + 0.5) / 1000000 AS cosine
        |FROM c WHERE cos >= 0.4""".stripMargin,

    // SemDeDup oracle config (nlist = 1): exhaustive all-pairs cosine
    // over the slice — same oracle family as x_dedup_embedding with a
    // deliberately different slice and threshold
    "x_dedup_semantic" ->
      """WITH s AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y)) AS dt,
        |    sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(a.embedding) AS x))) AS na,
        |    sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(b.embedding) AS y))) AS nb
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id < 600 AND b.vec_id < 600),
        |c AS (SELECT id_a, id_b, CASE WHEN na * nb > 0 THEN dt / (na * nb) ELSE 0 END AS cos FROM s)
        |SELECT id_a, id_b, floor(cos * 1000000 + 0.5) / 1000000 AS cosine
        |FROM c WHERE cos >= 0.35""".stripMargin,

    // incremental semantic probe at nlist=1: all-pairs batch × index
    // cosine (id_a = batch/new wave, id_b = accepted index). Norms are
    // hoisted per vector and the pair dot uses DuckDB's native
    // list_dot_product over DOUBLE[] — same element cast, same
    // left-to-right double accumulation as the per-pair unnest-sum it
    // replaces (empirically bit-identical), but vectorized: the old
    // correlated subqueries ran a mini-query per pair and blew the
    // dup-heavy 10x replay budget.
    "x_dedup_semantic_incr" ->
      """WITH ea AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |        sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |      FROM embeddings WHERE vec_id % 10 < 3),
        |eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |        sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |      FROM embeddings WHERE vec_id % 10 >= 3),
        |s AS (SELECT ea.vec_id AS id_a, eb.vec_id AS id_b,
        |        list_dot_product(ea.e, eb.e) AS dt, ea.nrm AS na, eb.nrm AS nb
        |      FROM ea JOIN eb ON TRUE),
        |c AS (SELECT id_a, id_b, CASE WHEN na * nb > 0 THEN dt / (na * nb) ELSE 0 END AS cos FROM s)
        |SELECT id_a, id_b, floor(cos * 1000000 + 0.5) / 1000000 AS cosine
        |FROM c WHERE cos >= 0.3""".stripMargin,

    // per-position window Horner (exact BIGINT, mod only at the test)
    // re-derives every content cutpoint; chunk hashes use the s7
    // per-step (a*31+b) % P fold over the chunk's codepoints
    "x_dedup_cdc" ->
      """WITH cp AS (SELECT doc_id,
        |    list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT)) AS codes
        |  FROM documents),
        |pos AS (SELECT doc_id, codes, len(codes) AS n,
        |          unnest(range(8, len(codes) + 1)) AS i
        |        FROM cp WHERE len(codes) >= 8),
        |hw AS (SELECT doc_id, i,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT), codes[i-7:i]),
        |                     (a, b) -> a * 31 + b) AS h
        |       FROM pos),
        |cuts AS (SELECT DISTINCT doc_id, cut FROM (
        |           SELECT doc_id, i AS cut FROM hw WHERE (h % 2147483647) % 64 = 0
        |           UNION ALL
        |           SELECT doc_id, len(codes) AS cut FROM cp WHERE len(codes) > 0)),
        |oc AS (SELECT c.doc_id, c.cut, cp.codes,
        |         CAST(row_number() OVER (PARTITION BY c.doc_id ORDER BY c.cut) - 1 AS BIGINT) AS chunk_index,
        |         lag(c.cut, 1, 0) OVER (PARTITION BY c.doc_id ORDER BY c.cut) AS prev
        |       FROM cuts c JOIN cp USING (doc_id))
        |SELECT doc_id, chunk_index,
        |       CAST(prev + 1 AS BIGINT) AS start,
        |       CAST(cut - prev AS BIGINT) AS len,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT), codes[prev+1:cut]),
        |                   (a, b) -> (a * 31 + b) % 2147483647) AS chunk_hash
        |FROM oc""".stripMargin,

    // same synthesis, same canonicalization chain as x_text_urlcanon,
    // then plain group-by-canonical-key with min-id representative
    "x_dedup_urlkey" -> {
      val tp = TextAnalysis.TrackingParamPattern
      s"""WITH u AS (SELECT doc_id,
         |    'https://Site' || (doc_id % 20) || '.example.com/page' ||
         |    (doc_id % 50) || '?utm_source=x' || doc_id AS url
         |  FROM documents),
         |c0 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u FROM u),
         |c1 AS (SELECT doc_id, regexp_replace(u, '&$tp=[^&#]*', '', 'g') AS u FROM c0),
         |c2 AS (SELECT doc_id, regexp_replace(u, '\\?$tp=[^&#]*&', '?') AS u FROM c1),
         |c3 AS (SELECT doc_id, regexp_replace(u, '[?&]$tp=[^&#]*$$', '') AS u FROM c2),
         |c4 AS (SELECT doc_id, regexp_replace(u, '[?&]+$$', '') AS u FROM c3),
         |k AS (SELECT doc_id,
         |        CASE WHEN regexp_extract(u, '^(https?://[^/?#]*)', 1) = '' THEN u
         |             ELSE lower(regexp_extract(u, '^(https?://[^/?#]*)', 1)) ||
         |                  regexp_replace(u, '^https?://[^/?#]*', '')
         |        END AS curl
         |      FROM c4)
         |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, curl,
         |       CAST(count(*) AS BIGINT) AS dup_count
         |FROM k GROUP BY curl""".stripMargin
    },

    // argmax mirror of max_by((score, -id)): score desc, id asc
    "x_dedup_keepbest" ->
      s"""WITH n AS (SELECT doc_id, lang, source, n_chars, array_to_string($toksSql, ' ') AS j FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY j ORDER BY n_chars DESC, doc_id ASC) AS rk FROM n)
         |SELECT doc_id, lang, source FROM r WHERE rk = 1""".stripMargin,

    // fingerprint equality == normalized-token-stream equality (the
    // x_text_fingerprint argument), so the anti-join mirrors NOT EXISTS
    // on the joined token stream
    "x_dedup_incr" ->
      s"""WITH n AS (SELECT doc_id, lang, source, array_to_string($toksSql, ' ') AS j FROM documents WHERE doc_id >= 400),
         |i AS (SELECT DISTINCT array_to_string($toksSql, ' ') AS j FROM documents WHERE doc_id < 400)
         |SELECT doc_id, lang, source FROM n
         |WHERE NOT EXISTS (SELECT 1 FROM i WHERE i.j = n.j)""".stripMargin,

    // edit-distance title dedup: (10-char prefix, lenband, t0) capped
    // blocks (the prefix keeps blocks corpus-size-free — the measured
    // 10x fix), unit-cost levenshtein both engines
    "x_dedup_editdist" ->
      s"""WITH ttl AS (SELECT doc_id AS id, substr(text, 1, 40) AS t,
         |    substr(text, 1, 10) AS pb FROM documents),
         |k AS (SELECT id, t, pb,
         |    CAST(floor(ln(greatest(length(t), 1)) * 2) AS INT) AS lenband,
         |    coalesce(list_extract(CASE WHEN trim(t) = '' THEN CAST([] AS VARCHAR[])
         |      ELSE string_split_regex(trim(lower(t)), '\\s+') END, 1), '') AS t0
         |  FROM ttl),
         |sz AS (SELECT pb, lenband, t0, count(*) AS c FROM k GROUP BY 1, 2, 3),
         |kk AS (SELECT k.* FROM k JOIN sz
         |       ON k.pb = sz.pb AND k.lenband = sz.lenband AND k.t0 = sz.t0
         |       WHERE sz.c <= ${Dedup.DefaultMaxBucketSize}),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |        CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist,
         |        CAST(greatest(length(a.t), length(b.t)) AS BIGINT) AS max_len
         |      FROM kk a JOIN kk b
         |      ON a.pb = b.pb AND a.lenband = b.lenband AND a.t0 = b.t0 AND a.id < b.id)
         |SELECT id_a, id_b, dist, max_len FROM p WHERE dist * 100 <= 15 * max_len""".stripMargin,
  )
}
