package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Rounding, Stats}
import graft.scale.{Dedup, Sampling, TextAnalysis}
import EntryShared._

/** [[SparkEntry]] slice: corpus curation pipelines (mixing, splits, budgets, curriculum, e2e).
  * Query lambdas and their DuckDB oracle mirrors live side by side;
  * the maps compose into the driver contract in [[SparkEntry]].
  * Determinism rules documented there apply to every entry.
  */
private[graft] object QueriesCorpus {

  /** The multi-wave deployment composition behind BOTH wave-2 keys:
    * exact-fingerprint index probe → near-dup band-index probe (cap
    * per `maxBucketSize`) → accept → drift audits → trend, one audit
    * frame. `x_corpus_wave2_e2e` runs it at maxBucketSize = 0 (full
    * recall — the configuration the exhaustive DuckDB oracle replays;
    * the CI gate form, cf. x_agg_approxq_gate) and
    * `x_corpus_wave2_ship` at [[Dedup.DefaultMaxBucketSize]] (the
    * production config — flat on dup-heavy data where the uncapped
    * probe grows with dup multiplicity; the cap first binds far above
    * the oracle dirs' bucket sizes, so the same oracle stays exact).
    */
  private def wave2E2e(s: SparkSession, d: String, maxBucketSize: Int): DataFrame = {
    val docs = T(s, d, "documents")
    val wave1 = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    // r14 optimization (guide §5 caching/lineage): the audit frame fans
    // out into ~10 aggregate branches (six counts, two drift rows, two
    // mean-chars rows), and each branch used to re-run the exact-dedup
    // AND the banded near-dup probe from scratch — the probe executed
    // ~5x per run. The probe outputs are materialized ONCE here
    // (inside the timed query — localCheckpoint is eager) and every
    // branch reads the checkpointed frame; values are bit-identical
    // (same plans, just computed once), so the oracle is untouched.
    // `accepted` is projected to the four columns the downstream
    // branches consume (drift cols, n_chars, the count) so the
    // materialized frame never holds document text.
    val novel = Dedup.dedupAgainstIndex(batch, wave1, "doc_id", "text")
      .localCheckpoint()
    val pairs = Dedup.nearDupMinhashAgainstIndex(
      novel,
      Dedup.minhashBandIndex(wave1, "doc_id", "text", k = 3, numHashes = 64, bands = 64),
      Dedup.hashedShingleTable(wave1, "doc_id", "text", k = 3),
      "doc_id", "text", k = 3, numHashes = 64, bands = 64, threshold = 0.3,
      maxBucketSize = maxBucketSize)
    val dropped = pairs.select(col("id_a").as("doc_id")).distinct()
      .localCheckpoint()
    val keepCols = Seq("doc_id", "lang", "source", "n_chars").map(col)
    val accepted = novel.join(dropped, Seq("doc_id"), "left_anti")
      .select(keepCols: _*)
      .localCheckpoint()
    val corpus2 = wave1.select(keepCols: _*).unionByName(accepted)
    def cnt(df: DataFrame, name: String) =
      df.agg(count(lit(1)).as("value"))
        .select(lit(name).as("metric"), lit("-").as("col_name"), col("value"))
    val counts = Seq(
      cnt(wave1, "wave1_size"), cnt(batch, "batch_size"),
      cnt(novel, "exact_novel"), cnt(dropped, "neardup_dropped"),
      cnt(accepted, "accepted_new"), cnt(corpus2, "corpus_after"))
      .reduce(_ unionByName _)
    // the drift frame feeds TWO projection branches — materialize the
    // |cols|-row diff once instead of profiling both corpora twice
    val drift = Stats.profileDiff(wave1, corpus2, Seq("lang", "source"))
      .localCheckpoint()
    val driftRows = drift
      .select(lit("null_delta_micro").as("metric"), col("col_name"),
        floor(col("null_rate_delta") * lit(1000000.0) + lit(0.5))
          .cast("long").as("value"))
      .unionByName(drift.select(lit("distinct_delta").as("metric"),
        col("col_name"),
        (col("n_distinct_b") - col("n_distinct_a")).as("value")))
    def meanChars(df: DataFrame, name: String) =
      df.agg(floor(sum(col("n_chars")).cast("double") / count(col("n_chars"))
          * lit(1000000.0) + lit(0.5)).cast("long").as("value"))
        .select(lit("mean_chars_micro").as("metric"),
          lit(name).as("col_name"), col("value"))
    counts.unionByName(driftRows)
      .unionByName(meanChars(wave1, "wave1"))
      .unionByName(meanChars(accepted, "wave2_accepted"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // the full training-data prep recipe: quality filter → language
    // filter → near-dup dedup → representatives — served from the
    // fit-once snapshot cache (cleanedCorpus): the chain itself runs
    // once per JVM, this key reads its parquet output
    "x_corpus_clean" -> ((s, d) =>
      cleanedCorpus(s, d, Seq("en", "es"), NgramBlockCap)
        .select(col("doc_id"), col("lang"), col("source"))),

    // filter-funnel audit over three ordered rules: first-fail
    // attribution vs raw bite vs survivors — the ordering question
    // ("does rule 3 do anything after 1-2?") per-rule pass rates
    // can't answer
    "x_corpus_funnel" -> ((s, d) =>
      graft.scale.Curation.filterFunnel(
        T(s, d, "documents")
          .withColumn("len_floor", col("n_chars") >= 100)
          .withColumn("has_lang", col("lang").isNotNull && col("lang") =!= "")
          .withColumn("len_cap", col("n_chars") <= 2000),
        Seq("len_floor", "has_lang", "len_cap"))),

    // end-to-end training-shard manifest: assign every cleaned-corpus
    // survivor its (shard, pack, offset) — the file a trainer's data
    // loader actually consumes. Reads the fit-once snapshot (the pack
    // side and the metadata join both scan it; as a parquet read that
    // costs two column-pruned scans, not two clean-chain recomputes);
    // the oracle chains the same packing CTEs onto the recursive
    // corpus-clean SQL.
    "x_corpus_manifest" -> ((s, d) => {
      val clean = cleanedCorpus(s, d, Seq("en", "es"), NgramBlockCap)
      TextAnalysis.packSequences(clean, "doc_id", "text", budget = 256, shards = 8)
        .join(clean.select(col("doc_id"), col("lang"), col("source")), "doc_id")
    }),

    // right-to-be-forgotten: erasure seeds (every 97th doc id) delete
    // their whole near-dup cluster — the same CC assignment as
    // x_dedup_clusters, then two broadcast joins; the output is the
    // auditable manifest (kept / seed / propagated), not just survivors
    "x_corpus_forget" -> ((s, d) =>
      Dedup.forgetPropagate(corpusClusters(s, d),
        T(s, d, "documents").filter(col("doc_id") % 97 === 0), "doc_id")),

    // DSIR importance resampling toward the English slice as the
    // target domain: unigram log-ratio + deterministic Gumbel top-50
    // (two broadcast-model scoring passes, TakeOrdered epilogue)
    "x_corpus_dsir" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Sampling.importanceResample(docs, "doc_id", "text",
        docs.filter(col("lang") === "en"), "text", n = 50, vocabSize = 1000)
    }),

    // per-language quality floor: drop each language's worst 20% by the
    // unigram LM score (rank-based — exact, no score arithmetic; null
    // scores rank worst and drop first)
    "x_corpus_qfloor" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val scored = TextAnalysis.unigramLogProbTable(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 3 === 0), "text", vocabSize = 1000)
      val withLang = docs.select(col("doc_id"), col("lang"))
        .join(scored.select(col("doc_id"), col("avg_logp")), "doc_id")
      Sampling.dropBottomFractionPerGroup(withLang, Seq("lang"), "doc_id", "avg_logp", 0.2)
    }),

    // best-5 docs per language by the unigram LM score — the "cap each
    // domain at its k highest-quality documents" curation primitive on
    // the map-side-bounded top-k aggregate (shuffle ∝ langs × k, never
    // a corpus-wide window sort)
    "x_corpus_bestk" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val scored = TextAnalysis.unigramLogProbTable(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 3 === 0), "text", vocabSize = 1000)
      val withLang = docs.select(col("doc_id"), col("lang"))
        .join(scored.select(col("doc_id"), col("avg_logp")), "doc_id")
      Sampling.keepBestKPerGroup(withLang, Seq("lang"), "doc_id", "avg_logp", k = 5)
    }),

    // curriculum banding over the unigram-LM score: grid-exact decile
    // assignment with no global sort (score recovered as the exact
    // nano-nat long behind x_text_unigram's 9-dp avg_logp)
    // CCNet head/middle/tail (Wenzek 2020): per-language LM-score
    // terciles on the exact nano-nat integer — distinct-score
    // cumulative window, |langs|-row broadcast boundary frame, then a
    // narrow row-local compare; nothing sorts the corpus
    "x_corpus_ppl_buckets" -> ((s, d) => {
      val docs = T(s, d, "documents")
      graft.scale.Curation.perplexityBuckets(docs, "doc_id", "text", "lang",
        docs.filter(col("doc_id") % 3 === 0), "text", vocabSize = 1000)
    }),

    // mixture concentration: Gini + HHI of per-source token mass —
    // the "one source dominates" audit; exact integer numerators via
    // the rank identity, one |sources|-row bounded window
    "x_corpus_concentration" -> ((s, d) =>
      graft.scale.Curation.concentrationReport(T(s, d, "documents"),
        "source", "text")),

    "x_corpus_curriculum" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val scored = TextAnalysis.unigramLogProbTable(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 3 === 0), "text", vocabSize = 1000,
        scoreNano = true)
      val withScore = scored.select(col("doc_id"), col("score_nano").as("score"))
      Sampling.curriculumBands(withScore, "doc_id", "score", bands = 10, grid = 1024)
    }),

    // the curriculum materialized as a training layout: band becomes a
    // pack partition, so no window ever mixes curriculum stages — the
    // trainer consumes packs band by band
    "x_corpus_curriculum_pack" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val scored = TextAnalysis.unigramLogProbTable(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 3 === 0), "text", vocabSize = 1000,
        scoreNano = true)
      val withScore = scored.select(col("doc_id"), col("score_nano").as("score"))
      graft.scale.Curation.curriculumPack(docs, "doc_id", "text",
        withScore, "score", bands = 10, grid = 1024, packBudget = 256, shards = 4)
    }),

    // token-budgeted mixture: fill each source's 2000-token budget
    // with its best classifier-scored documents (greedy prefix by
    // quality, running sum within the per-group window)
    "x_corpus_budget" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val model = fittedClassifier(s, d, buckets = 1024)
      val scored = TextAnalysis.hashedClassifierScore(docs, "doc_id", "text", model, buckets = 1024)
      val withSrc = docs.select(col("doc_id"), col("source"))
        .join(scored.select(col("doc_id"), col("n_tokens"), col("score_micro")), "doc_id")
      Sampling.takeTokensPerGroup(withSrc, Seq("source"), "doc_id",
        "score_micro", "n_tokens", tokenBudget = 2000L)
    }),

    // the GPT-3-recipe composition: classifier-score the corpus, then
    // floor each source at its best 70% (rank-based, per-group window)
    "x_corpus_clffilter" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val model = fittedClassifier(s, d, buckets = 1024)
      val scored = TextAnalysis.hashedClassifierScore(docs, "doc_id", "text", model, buckets = 1024)
      val withSrc = docs.select(col("doc_id"), col("source"))
        .join(scored.select(col("doc_id"), col("n_tokens"), col("score_micro")), "doc_id")
      Sampling.dropBottomFractionPerGroup(withSrc, Seq("source"), "doc_id", "score_micro", 0.3)
    }),

    // packing by the LEARNED tokenizer's counts (bpeEncode n_units →
    // packByCount) — the composition a trainer actually consumes:
    // windows are sized in real tokens, not whitespace estimates
    "x_corpus_bpe_pack" -> ((s, d) =>
      TextAnalysis.packByCount(
        TextAnalysis.bpeEncode(T(s, d, "documents"), "doc_id", "text",
          fittedBpe(s, d, merges = 6)),
        "doc_id", "n_units", budget = 256, shards = 8)),

    // the web-corpus curation e2e: suffix blocklist -> domain quality
    // tier (broadcast rank-tier join; unranked domains conservatively
    // excluded — unknown quality is not good quality) -> classifier
    // score floor, summarized per source. The composition a CCNet-
    // style pipeline actually ships, built from the gated parts.
    "x_corpus_web_e2e" -> ((s, d) => webE2ePipeline(s, d)),

    // mixture construction: cap three sources (one to zero), leave the
    // rest whole; emit the per-source audit the pipeline would log
    "x_corpus_mixture" -> ((s, d) => {
      val kept = Sampling.sampleByTokenBudget(T(s, d, "documents"),
        "doc_id", "text", "source",
        Map("src0" -> 500L, "src1" -> 800L, "src5" -> 0L))
      kept.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens_kept"))
    }),

    // mixture-drift audit: targets over two real sources plus one the
    // corpus doesn't have (its absence must page, not vanish); every
    // other source audits against target 0 at a 15% budget
    "x_corpus_mix_drift" -> ((s, d) =>
      Sampling.mixtureDriftAudit(T(s, d, "documents"), "source", "text",
        Map("src0" -> 0.3, "src1" -> 0.3, "src_missing" -> 0.4),
        toleranceMicro = 150000L)),

    // capped water-filling epoch allocation: target weights 4/2/1/1
    // over four sources, 2-epoch repeat ceiling, 8k-token budget — at
    // sf0.01 the heaviest-weighted source hits its capacity cap and the
    // remainder water-fills the rest (the nontrivial branch of the
    // closed form; unlisted sources exercise the zero-weight branch)
    "x_corpus_epochs" -> ((s, d) =>
      Sampling.epochAllocation(T(s, d, "documents"), "text", "source",
        Map("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0),
        budgetTokens = 8000L, maxEpochs = 2.0)),

    // the allocation materialized into the repeated-doc manifest a
    // training loader reads: floor(e) copies + a deterministic
    // fractional copy per doc — composes the x_corpus_epochs waterline
    "x_corpus_epochs_expand" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val alloc = Sampling.epochAllocation(docs, "text", "source",
        Map("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0),
        budgetTokens = 8000L, maxEpochs = 2.0)
      Sampling.expandEpochs(docs, "doc_id", "source", alloc)
        .select(col("doc_id"), col("source"), col("epoch"))
    }),

    // temperature-balanced mixture (alpha = 0.5 up-weights small
    // sources): rates are driver-computed constants from a sorted fold,
    // so the kept set is engine-exact; same summary shape as mixture
    "x_corpus_temperature" -> ((s, d) => {
      val kept = Sampling.sampleByTemperature(T(s, d, "documents"),
        "doc_id", "text", "source", alpha = 0.5, totalBudget = 2000L)
      kept.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens_kept"))
    }),

    // deterministic training shuffle: seed-reproducible (shard, pos)
    // permutation with no global sort (per-shard windows only)
    "x_corpus_shuffle" -> ((s, d) =>
      Sampling.shuffleDeterministic(T(s, d, "documents"), "doc_id",
          shards = 8, seed = 42L)
        .select(col("doc_id"), col("shard"), col("pos"))),

    // deterministic train/val/test split: portable affine-hash uniform
    // vs cumulative thresholds, summarized per (split, source)
    "x_corpus_split" -> ((s, d) =>
      Sampling.splitAssign(T(s, d, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"))),

    // leakage-safe grouped split: every doc of a source lands in ONE
    // split (portable poly-hash of the group feeds the affine uniform);
    // summarized per (split, source) so co-assignment is visible in the
    // hashed result — a source appearing under two splits would change
    // the row set
    "x_corpus_split_grouped" -> ((s, d) =>
      Sampling.splitAssignGrouped(T(s, d, "documents"), "source",
          Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"))),

    // the whole last mile in ONE composed call: clean → temperature mix
    // → decorrelated split → per-(split, shard) packed manifest — every
    // stage already individually green, this key gates the COMPOSITION
    // (incl. the second-round split hash: same-hash splitting would put
    // every temperature-kept doc in 'train')
    "x_corpus_e2e" -> ((s, d) =>
      // post-clean stages on the fit-once snapshot — the production
      // "clean once to storage, curate from there" shape; curate ==
      // cleanCorpus + curateCleaned by construction
      graft.scale.Curation.curateCleaned(
        cleanedCorpus(s, d, Seq("en", "es"), NgramBlockCap),
        "doc_id", "text", "source",
        alpha = 0.5, totalBudget = 2000L,
        splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        packBudget = 256, shards = 8, metaCols = Seq("lang", "source"))),

    // --- duplication-aware sampling weights (round-10) ----------------
    // soft dedup: every member of a size-k near-dup cluster carries
    // 1e6 div k micro of sampling mass; rolled up per source as the
    // effective (dedup-discounted) corpus size — reads the same
    // fit-once cluster snapshot as the dedup census keys
    "x_corpus_dupweight" -> ((s, d) => {
      val w = Dedup.clusterWeights(corpusClusters(s, d))
      T(s, d, "documents").select(col("doc_id").as("id"), col("source"))
        .join(w, Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(col("weight_micro")).as("eff_docs_micro"))
    }),

    // --- multi-wave deployment e2e (round-13; split round-14) ----------
    // "wave 2 arrives" — the engine's production story end to end:
    // the new delivery probes the persisted exact-fingerprint index,
    // survivors probe the persisted near-dup band index, the novel
    // remainder is accepted into the corpus, and the drift audits +
    // trend rows that gate the acceptance run over the before/after
    // snapshots. One composed audit frame (metric, col_name, value):
    // stage counts, per-column null-rate / distinct drift in exact
    // micro, and the per-wave mean-length trend. Every stage is an
    // existing gated operator — no new shuffle shape; the composition
    // is what's under test. Two forms (the x_agg_approxq split): _e2e
    // is the CI full-recall gate, _ship the capped production config.
    "x_corpus_wave2_e2e" -> ((s, d) => wave2E2e(s, d, maxBucketSize = 0)),
    "x_corpus_wave2_ship" -> ((s, d) =>
      wave2E2e(s, d, maxBucketSize = Dedup.DefaultMaxBucketSize)),
  )

  val oracleSql: Map[String, String] = Map(

    "x_corpus_clean" -> corpusCleanSql,
    "x_corpus_manifest" -> corpusManifestSql,

    // filter funnel: NULL rules fail (fail-closed); first-fail sums
    // condition on every earlier rule passing; survivors by the
    // |rules|-row running sum
    "x_corpus_funnel" ->
      """WITH c AS (SELECT
        |    coalesce(n_chars >= 100, false) AS r0,
        |    coalesce(lang IS NOT NULL AND lang <> '', false) AS r1,
        |    coalesce(n_chars <= 2000, false) AS r2
        |  FROM documents),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(coalesce(sum(CASE WHEN NOT r0 THEN 1 END), 0) AS BIGINT) AS kf0,
        |    CAST(coalesce(sum(CASE WHEN NOT r0 THEN 1 END), 0) AS BIGINT) AS fa0,
        |    CAST(coalesce(sum(CASE WHEN r0 AND NOT r1 THEN 1 END), 0) AS BIGINT) AS kf1,
        |    CAST(coalesce(sum(CASE WHEN NOT r1 THEN 1 END), 0) AS BIGINT) AS fa1,
        |    CAST(coalesce(sum(CASE WHEN r0 AND r1 AND NOT r2 THEN 1 END), 0) AS BIGINT) AS kf2,
        |    CAST(coalesce(sum(CASE WHEN NOT r2 THEN 1 END), 0) AS BIGINT) AS fa2
        |  FROM c)
        |SELECT CAST(0 AS BIGINT) AS rule_index, 'len_floor' AS rule, n,
        |       kf0 AS n_killed_first, fa0 AS n_failed_any,
        |       CAST(n - kf0 AS BIGINT) AS survivors_after FROM a
        |UNION ALL
        |SELECT 1, 'has_lang', n, kf1, fa1, CAST(n - kf0 - kf1 AS BIGINT) FROM a
        |UNION ALL
        |SELECT 2, 'len_cap', n, kf2, fa2, CAST(n - kf0 - kf1 - kf2 AS BIGINT) FROM a""".stripMargin,

    // affine hash mod the prime 1000003 (the sampleByTokenBudget mirror),
    // shard = h mod 8, pos = per-shard rank on (h, id) — no global order
    "x_corpus_shuffle" ->
      """WITH h AS (SELECT doc_id,
        |        ((doc_id % 1000003) * 514229 + 741103 + 42) % 1000003 AS hv
        |      FROM documents)
        |SELECT doc_id, CAST(hv % 8 AS BIGINT) AS shard,
        |       CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) - 1 AS BIGINT) AS pos
        |FROM h""".stripMargin,

    // same affine-hash uniform; thresholds are the Scala-computed
    // cumulative doubles (0.8 + 0.1 != 0.9 in IEEE — the oracle must
    // compare against the IDENTICAL values splitAssign used)
    "x_corpus_split" -> {
      val cuts = Sampling.splitCuts(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      s"""WITH u AS (SELECT doc_id, source, text,
         |    CAST(((doc_id % 1000003) * 514229 + 741103) % 1000003 AS DOUBLE) / 1000003.0 AS u
         |  FROM documents),
         |s AS (SELECT source, text,
         |        CASE WHEN u < ${cuts(0)} THEN 'train'
         |             WHEN u < ${cuts(1)} THEN 'val'
         |             ELSE 'test' END AS split
         |      FROM u)
         |SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(len($toksSql)) AS BIGINT) AS tokens
         |FROM s GROUP BY 1, 2""".stripMargin
    },

    // grouped split: the same 31-base poly hash of the GROUP string
    // (cf. s7_fingerprint_portable) feeding the same affine uniform;
    // cuts are the Scala cumulative doubles
    "x_corpus_split_grouped" -> {
      val cuts = Sampling.splitCuts(Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25))
      s"""WITH h AS (SELECT doc_id, source,
         |    ${polyHashSqlOf("coalesce(source, '')")} AS gh
         |  FROM documents),
         |u AS (SELECT doc_id, source,
         |        CAST(((gh % 1000003) * 514229 + 741103) % 1000003 AS DOUBLE) / 1000003.0 AS u
         |      FROM h),
         |s AS (SELECT source,
         |        CASE WHEN u < ${cuts(0)} THEN 'train'
         |             WHEN u < ${cuts(1)} THEN 'val'
         |             ELSE 'test' END AS split
         |      FROM u)
         |SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs
         |FROM s GROUP BY 1, 2""".stripMargin
    },

    // the clusters CC chain + erasure-seed propagation: a cluster
    // containing any seed (doc_id % 97 = 0) is deleted wholesale;
    // status audits WHY each id left (seed vs propagated)
    "x_corpus_forget" ->
      s"""WITH RECURSIVE ${ngramClusterCtes("documents")},
         |clu AS (SELECT d.doc_id AS id, coalesce(l.cluster, d.doc_id) AS cluster
         |        FROM documents d LEFT JOIN lbls l ON d.doc_id = l.rid),
         |sd AS (SELECT doc_id AS id FROM documents WHERE doc_id % 97 = 0),
         |sc AS (SELECT DISTINCT c.cluster FROM clu c JOIN sd ON sd.id = c.id)
         |SELECT c.id, c.cluster,
         |       CASE WHEN c.id IN (SELECT id FROM sd) THEN 'seed'
         |            WHEN c.cluster IN (SELECT cluster FROM sc) THEN 'propagated'
         |            ELSE 'kept' END AS status
         |FROM clu c""".stripMargin,

    // curriculum banding: the unigram score chain, the exact nano-nat
    // long (floor(x*1e9+0.5) — the integer behind avg_logp's 9 dp),
    // then pure-integer lattice quantiles; every div operand is
    // non-negative, so DuckDB's floor-// equals Spark's truncate-div
    "x_corpus_curriculum" ->
      s"""WITH $curriculumCtes
         |SELECT doc_id, score, band FROM cb""".stripMargin,

    // concentration: rank identity 2*Six - (n+1)*Sx over (mass asc,
    // source asc) ranks; exact BIGINT numerators, one double division
    "x_corpus_concentration" ->
      s"""WITH m AS (SELECT coalesce(CAST(source AS VARCHAR), '') AS g,
         |             CAST(sum(len($toksSql)) AS BIGINT) AS x
         |           FROM documents GROUP BY 1),
         |r AS (SELECT g, x, CAST(row_number() OVER (ORDER BY x ASC, g ASC) AS BIGINT) AS i FROM m),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |             CAST(sum(i * x) AS BIGINT) AS six, CAST(sum(x * x) AS BIGINT) AS sxx
         |      FROM r)
         |SELECT n AS n_groups, sx AS total_tokens,
         |       ${Rounding.halfUpSql(
                   "CAST(2 * six - (n + 1) * sx AS DOUBLE) / CAST(n * sx AS DOUBLE)", 6)} AS gini,
         |       ${Rounding.halfUpSql(
                   "CAST(sxx AS DOUBLE) / (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))", 6)} AS hhi
         |FROM a""".stripMargin,

    // CCNet terciles: same unigram chain + nano-nat fold, then
    // value-based boundaries (smallest score whose per-lang cumulative
    // tie-group count reaches k·n/3) and the same <= compares — the
    // window's HUGEINT cumulative never reaches the output
    "x_corpus_ppl_buckets" ->
      s"""WITH $unigramScoreCtes,
         |scr AS (SELECT doc_id, CAST(floor((CAST(s6 AS DOUBLE) / 1000000 / n_tokens) * 1000000000 + 0.5) AS BIGINT) AS score_nano
         |        FROM sc WHERE n_tokens > 0),
         |wl AS (SELECT d.doc_id, coalesce(CAST(d.lang AS VARCHAR), '') AS lang, s.score_nano
         |       FROM documents d LEFT JOIN scr s ON d.doc_id = s.doc_id),
         |cc AS (SELECT lang, score_nano, CAST(count(*) AS BIGINT) AS c
         |       FROM wl WHERE score_nano IS NOT NULL GROUP BY 1, 2),
         |cum AS (SELECT lang, score_nano,
         |          sum(c) OVER (PARTITION BY lang ORDER BY score_nano ROWS UNBOUNDED PRECEDING) AS cm
         |        FROM cc),
         |tt2 AS (SELECT lang, sum(c) AS n FROM cc GROUP BY 1),
         |b AS (SELECT cum.lang,
         |        min(CASE WHEN cm * 3 >= n THEN score_nano END) AS t1,
         |        min(CASE WHEN cm * 3 >= 2 * n THEN score_nano END) AS t2
         |      FROM cum JOIN tt2 ON cum.lang = tt2.lang GROUP BY 1)
         |SELECT wl.doc_id, wl.lang, wl.score_nano,
         |       CASE WHEN wl.score_nano IS NULL THEN 'unscored'
         |            WHEN wl.score_nano <= b.t1 THEN 'tail'
         |            WHEN wl.score_nano <= b.t2 THEN 'middle'
         |            ELSE 'head' END AS bucket
         |FROM wl LEFT JOIN b ON wl.lang = b.lang""".stripMargin,

    // curriculum → packing composition: band joins the pack partition
    // (shares the banding CTEs, so both keys provably band identically)
    "x_corpus_curriculum_pack" ->
      s"""WITH $curriculumCtes,
         |pt AS (SELECT cb.doc_id, cb.band, cb.doc_id % 4 AS shard,
         |         CAST(len($toksSql) AS BIGINT) AS token_count
         |       FROM cb JOIN documents ON cb.doc_id = documents.doc_id),
         |pw AS (SELECT *, sum(token_count) OVER (PARTITION BY band, shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - token_count AS st FROM pt)
         |SELECT doc_id, band, CAST(shard AS BIGINT) AS shard, token_count,
         |       CAST(st // 256 AS BIGINT) AS pack_id,
         |       CAST(st % 256 AS BIGINT) AS pack_offset
         |FROM pw""".stripMargin,

    // DSIR: two instantiations of the SAME model CTEs (target = en
    // slice, reference = whole corpus), 9-dp score difference, the
    // portable-affine Gumbel key, top-50 by (skey desc, id asc)
    "x_corpus_dsir" ->
      s"""WITH $docTokenCtes,
         |${unigramModelCtes("t_", "lang = 'en'")},
         |${unigramModelCtes("r_", "TRUE")},
         |j AS (SELECT t_sc.doc_id,
         |    floor((CAST(t_sc.s6 AS DOUBLE) / 1000000 / t_sc.n_tokens) * 1000000000 + 0.5) / 1000000000 AS lt,
         |    floor((CAST(r_sc.s6 AS DOUBLE) / 1000000 / r_sc.n_tokens) * 1000000000 + 0.5) / 1000000000 AS lr
         |  FROM t_sc JOIN r_sc ON t_sc.doc_id = r_sc.doc_id
         |  WHERE t_sc.n_tokens > 0 AND r_sc.n_tokens > 0),
         |k AS (SELECT doc_id, lt - lr AS logratio,
         |    -ln(-ln((CAST(((doc_id % 1000003) * 514229 + 741103) % 1000003 AS DOUBLE) + 0.5) / 1000003.0)) AS g
         |  FROM j),
         |s AS (SELECT doc_id, logratio,
         |    floor((logratio + g) * 1000000000 + 0.5) / 1000000000 AS skey FROM k)
         |SELECT doc_id, logratio, skey FROM s ORDER BY skey DESC, doc_id LIMIT 50""".stripMargin,

    // quality floor: same unigram score CTEs; rank ASC NULLS FIRST
    // explicitly (DuckDB defaults ASC to NULLS LAST, Spark to NULLS
    // FIRST — the null convention is part of the operator's contract:
    // unscorable docs drop first)
    "x_corpus_qfloor" ->
      s"""WITH $unigramScoreCtes,
         |scored AS (SELECT dd.doc_id, dd.lang,
         |    floor((CAST(sc.s6 AS DOUBLE) / 1000000 / sc.n_tokens) * 1000000000 + 0.5) / 1000000000 AS avg_logp
         |  FROM documents dd LEFT JOIN sc ON dd.doc_id = sc.doc_id),
         |r AS (SELECT *,
         |    row_number() OVER (PARTITION BY lang ORDER BY avg_logp ASC NULLS FIRST, doc_id ASC) AS rk,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM scored)
         |SELECT doc_id, lang, avg_logp FROM r
         |WHERE rk > floor(0.2 * CAST(n AS DOUBLE))""".stripMargin,

    // best-k per language by the SAME unigram score CTEs (shared with
    // x_text_unigram so the two can never drift) — row_number mirrors
    // BoundedTopKDouble's (score desc, id asc) total order
    "x_corpus_bestk" ->
      s"""WITH $unigramScoreCtes,
         |scored AS (SELECT dd.doc_id, dd.lang,
         |    floor((CAST(s6 AS DOUBLE) / 1000000 / n_tokens) * 1000000000 + 0.5) / 1000000000 AS avg_logp
         |  FROM documents dd JOIN sc ON dd.doc_id = sc.doc_id
         |  WHERE sc.n_tokens > 0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY avg_logp DESC, doc_id ASC) AS rk
         |      FROM scored)
         |SELECT lang, doc_id, avg_logp FROM r WHERE rk <= 5""".stripMargin,

    // scoring chain + the budget window epilogue: per source, rank by
    // (score desc, id asc), admit while the inclusive running token
    // sum stays within 2000
    "x_corpus_budget" ->
      s"""WITH ${hashClfCtes(1024)},
         |bj AS (SELECT d2.doc_id, d2.source, hsc.n_tokens, hsc.score_micro
         |       FROM (SELECT doc_id, source FROM documents) d2 JOIN hsc USING (doc_id)),
         |br AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
         |                 ORDER BY score_micro DESC, doc_id ASC
         |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM bj)
         |SELECT doc_id, source, n_tokens, score_micro, cum_tokens
         |FROM br WHERE cum_tokens <= 2000""".stripMargin,

    // scoring chain + the qfloor window epilogue: per source, rank by
    // (score asc, id asc), drop ranks <= floor(0.3 * n)
    "x_corpus_clffilter" ->
      s"""WITH ${hashClfCtes(1024)},
         |cj AS (SELECT d2.doc_id, d2.source, hsc.n_tokens, hsc.score_micro
         |       FROM (SELECT doc_id, source FROM documents) d2 JOIN hsc USING (doc_id)),
         |cr AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY score_micro ASC, doc_id ASC) AS rk,
         |              count(*) OVER (PARTITION BY source) AS n FROM cj)
         |SELECT doc_id, source, n_tokens, score_micro
         |FROM cr WHERE rk > floor(0.3 * CAST(n AS DOUBLE))""".stripMargin,

    // bpe-count packing: the encode chain's n_units (= flattened token
    // count) feeds the same shard-partitioned running-sum layout as
    // x_text_pack
    "x_corpus_bpe_pack" ->
      s"""WITH $bpeStreamCtes,
         |c AS (SELECT doc_id, doc_id % 8 AS shard,
         |        CAST(coalesce(len(toks), 0) AS BIGINT) AS token_count
         |      FROM t),
         |w AS (SELECT *, sum(token_count) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - token_count AS st FROM c)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, token_count,
         |       CAST(st // 256 AS BIGINT) AS pack_id,
         |       CAST(st % 256 AS BIGINT) AS pack_offset
         |FROM w""".stripMargin,

    // web-curation e2e: blocklist CTEs (b-prefixed), 5-iteration rank
    // chain + tier projection, classifier chain, three-way join
    "x_corpus_web_e2e" ->
      (graphRankOracleCtes(5) + s""",
        |${hashClfCtes(1024)},
        |bp AS (SELECT doc_id,
        |    text || ' https://sub' || (doc_id % 4) || '.news' || (doc_id % 7) || '.example.com/p' || doc_id ||
        |    ' http://ads' || (doc_id % 3) || '.tracker' || (doc_id % 5) || '.example.org/b' AS text
        |  FROM documents),
        |bu AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\\s]+')) AS url FROM bp),
        |bd AS (SELECT doc_id, lower(regexp_extract(url, 'https?://([^/\\s]+)', 1)) AS domain FROM bu),
        |bs AS (SELECT doc_id, unnest(list_transform(range(len(string_split(domain, '.'))),
        |          i -> array_to_string(string_split(domain, '.')[i+1:], '.'))) AS suffix FROM bd),
        |bb AS (SELECT DISTINCT doc_id FROM bs
        |  WHERE suffix IN ('news2.example.com', 'tracker3.example.org', 'unused.example.net')),
        |tt AS (SELECT node, CAST(3 - ((CASE WHEN r > 800000 THEN 1 ELSE 0 END)
        |                 + (CASE WHEN r > 1000000 THEN 1 ELSE 0 END)
        |                 + (CASE WHEN r > 1200000 THEN 1 ELSE 0 END)) AS INTEGER) AS tier FROM r5)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(d.n_chars) AS BIGINT) AS n_chars
        |FROM documents d
        |JOIN tt ON tt.node = d.doc_id % 64 AND tt.tier <= 2
        |JOIN hsc ON hsc.doc_id = d.doc_id AND hsc.score_micro >= 0
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM bb)
        |GROUP BY 1""".stripMargin),

    // same affine hash mod 1000003 and the same least(1, budget/total)
    // rate arithmetic; src5's zero budget drops the group entirely
    "x_corpus_mixture" ->
      s"""WITH t AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS tok FROM documents),
         |tot AS (SELECT source, CAST(sum(tok) AS BIGINT) AS total FROM t GROUP BY 1),
         |r AS (SELECT t.doc_id, t.source, t.tok,
         |        coalesce(least(1.0,
         |          (CASE t.source WHEN 'src0' THEN 500 WHEN 'src1' THEN 800 WHEN 'src5' THEN 0 END)
         |            / CAST(tot.total AS DOUBLE)), 1.0) AS rate,
         |        CAST(((doc_id % 1000003) * 514229 + 741103) % 1000003 AS DOUBLE) / 1000003.0 AS u
         |      FROM t JOIN tot ON t.source = tot.source)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens_kept
         |FROM r WHERE u < rate GROUP BY 1""".stripMargin,

    // mixture drift: the SAME Scala-computed half-up micro targets
    // interpolated as literals (the temperature-rate determinism move),
    // full-outer lattice join, 1-row total
    "x_corpus_mix_drift" -> {
      val targets = Map("src0" -> 0.3, "src1" -> 0.3, "src_missing" -> 0.4)
      val wsum = targets.toSeq.sortBy(_._1).map(_._2).sum
      val lattice = targets.toSeq.sortBy(_._1).map { case (k, w) =>
        val m = math.floor(w / wsum * 1000000.0 + 0.5).toLong
        s"SELECT '$k' AS grp, CAST($m AS BIGINT) AS target_micro"
      }.mkString("\n         |           UNION ALL ")
      s"""WITH obs AS (SELECT coalesce(CAST(source AS VARCHAR), '') AS grp,
         |        CAST(sum(coalesce(len($toksSql), 0)) AS BIGINT) AS tokens
         |      FROM documents GROUP BY 1),
         |lat AS ($lattice),
         |j AS (SELECT coalesce(o.grp, l.grp) AS grp,
         |        CAST(coalesce(o.tokens, 0) AS BIGINT) AS tokens,
         |        CAST(coalesce(l.target_micro, 0) AS BIGINT) AS target_micro
         |      FROM obs o FULL OUTER JOIN lat l ON o.grp = l.grp),
         |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS tot FROM j),
         |r AS (SELECT grp, tokens, target_micro,
         |        CASE WHEN tot > 0 THEN CAST((tokens * 1000000) // tot AS BIGINT) END AS realized_micro
         |      FROM j, t)
         |SELECT grp AS "group", tokens, realized_micro, target_micro,
         |       CAST(abs(coalesce(realized_micro, 0) - target_micro) AS BIGINT) AS drift_micro,
         |       abs(coalesce(realized_micro, 0) - target_micro) <= 150000 AS within_tolerance
         |FROM r""".stripMargin
    },

    // the composed last mile: corpus-clean CTEs → the temperature CTEs
    // over `clean` (same Z fold/rate arithmetic as x_corpus_temperature)
    // → second-round-hash split (cuts are the Scala cumulative doubles)
    // → running-sum packing PARTITIONED BY (split, shard)
    "x_corpus_e2e" -> {
      val cuts = Sampling.splitCuts(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      corpusCleanCtes + s""",
         |t AS (SELECT doc_id, lang, source, CAST(len($toksSql) AS BIGINT) AS tok FROM clean),
         |tot AS (SELECT source, CAST(sum(tok) AS BIGINT) AS total FROM t GROUP BY 1),
         |z AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list(pow(CAST(total AS DOUBLE), 0.5) ORDER BY source)),
         |        (a, b) -> a + b) AS z
         |      FROM tot),
         |mixed AS (SELECT t.doc_id, t.lang, t.source, t.tok
         |      FROM t JOIN tot ON t.source = tot.source, z
         |      WHERE CAST(((t.doc_id % 1000003) * 514229 + 741103) % 1000003 AS DOUBLE) / 1000003.0
         |            < CASE WHEN tot.total <= 0 OR z.z <= 0 THEN 1.0
         |                   ELSE greatest(0.000001, floor(least(1.0, 2000 * pow(CAST(tot.total AS DOUBLE), 0.5) / z.z / tot.total) * 1000000 + 0.5) / 1000000) END),
         |sp AS (SELECT *, CASE WHEN u2 < ${cuts(0)} THEN 'train'
         |                      WHEN u2 < ${cuts(1)} THEN 'val'
         |                      ELSE 'test' END AS split
         |       FROM (SELECT *,
         |               CAST((((doc_id % 1000003) * 514229 + 741103) % 1000003 * 514229 + 741103) % 1000003 AS DOUBLE) / 1000003.0 AS u2
         |             FROM mixed)),
         |w AS (SELECT *, doc_id % 8 AS shard,
         |        sum(tok) OVER (PARTITION BY split, doc_id % 8 ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - tok AS st
         |      FROM sp)
         |SELECT doc_id, split, CAST(shard AS BIGINT) AS shard, tok AS token_count,
         |       CAST(st // 256 AS BIGINT) AS pack_id, CAST(st % 256 AS BIGINT) AS pack_offset,
         |       lang, source
         |FROM w""".stripMargin
    },

    // epoch water-filling: every sum is over exact longs (micro-unit
    // weights, half-up long capacities), every double is a single-op
    // expression written in the same association as the Spark plan —
    // the capped-prefix test and the waterline division match
    // bit-for-bit
    "x_corpus_epochs" ->
      s"""WITH $epochAllocCte
         |SELECT source, tokens_available, weight, allocated_tokens, epochs
         |FROM alloc""".stripMargin,

    // the allocation materialized: floor(e) copies per doc plus a
    // fractional copy below the portable per-key uniform (the same
    // affine-hash mirror as x_corpus_temperature); shares the alloc
    // CTE so both keys provably score the same waterline
    "x_corpus_epochs_expand" ->
      s"""WITH $epochAllocCte,
         |d AS (SELECT doc_id, documents.source AS source, epochs,
         |        CAST(((doc_id % 1000003) * 514229 + 741103) % 1000003 AS DOUBLE) / 1000003.0 AS uu
         |      FROM documents JOIN alloc ON documents.source = alloc.source),
         |e AS (SELECT doc_id, source, CAST(floor(epochs) AS BIGINT) +
         |        CASE WHEN uu < epochs - floor(epochs) THEN 1 ELSE 0 END AS n
         |      FROM d)
         |SELECT doc_id, source, unnest(range(n)) AS epoch FROM e WHERE n > 0""".stripMargin,

    "x_corpus_temperature" ->
      s"""WITH t AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS tok FROM documents),
         |tot AS (SELECT source, CAST(sum(tok) AS BIGINT) AS total FROM t GROUP BY 1),
         |z AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list(pow(CAST(total AS DOUBLE), 0.5) ORDER BY source)),
         |        (a, b) -> a + b) AS z
         |      FROM tot),
         |r AS (SELECT t.doc_id, t.source, t.tok,
         |        CASE WHEN tot.total <= 0 OR z.z <= 0 THEN 1.0
         |             ELSE greatest(0.000001, floor(least(1.0, 2000 * pow(CAST(tot.total AS DOUBLE), 0.5) / z.z / tot.total) * 1000000 + 0.5) / 1000000) END AS rate,
         |        CAST(((doc_id % 1000003) * 514229 + 741103) % 1000003 AS DOUBLE) / 1000003.0 AS u
         |      FROM t JOIN tot ON t.source = tot.source, z)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens_kept
         |FROM r WHERE u < rate GROUP BY 1""".stripMargin,

    // duplication-aware sampling weights: the dedup family's cluster
    // replay (reach = min-label closure) + 1e6 // size per member,
    // rolled up per source
    "x_corpus_dupweight" ->
      s"""WITH RECURSIVE ${ngramClusterCtes("documents")},
         |asg AS (SELECT d.doc_id AS id, coalesce(l.cluster, d.doc_id) AS cluster, d.source
         |        FROM documents d LEFT JOIN lbls l ON d.doc_id = l.rid),
         |cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz FROM asg GROUP BY 1)
         |SELECT asg.source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT asg.cluster) AS BIGINT) AS n_clusters,
         |       CAST(sum(1000000 // cs.sz) AS BIGINT) AS eff_docs_micro
         |FROM asg JOIN cs USING (cluster)
         |GROUP BY 1""".stripMargin,

    // multi-wave e2e: the x_dedup_incr token-join anti filter, the
    // x_dedup_incr_minhash exhaustive batch x index jaccard (full-
    // recall banding on the engine side), the s22 profile arithmetic,
    // and exact-integer-double mean lengths — stacked into one frame.
    // The _ship form shares the SAME exhaustive replay: its bucket cap
    // (4096) binds only far above the oracle dirs' bucket sizes
    // (measured max ~hundreds at the 10x dup-heavy dir), and 64-band/
    // 1-row banding misses a 0.3-Jaccard pair with prob 0.7^64 < 1e-9,
    // so capped output == exhaustive output wherever the oracle runs
    "x_corpus_wave2_e2e" -> wave2Sql,
    "x_corpus_wave2_ship" -> wave2Sql,
  )

  private lazy val wave2Sql: String = {
      def side(src: String, suffix: String) =
        Seq("lang", "source").map { c =>
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS r_$suffix,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_$suffix,
             |  CAST(count(DISTINCT CAST($c AS VARCHAR)) AS BIGINT) AS nd_$suffix
             |FROM $src""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""WITH n0 AS (SELECT doc_id, lang, source, n_chars,
         |    array_to_string($toksSql, ' ') AS j FROM documents),
         |w1 AS (SELECT * FROM n0 WHERE doc_id < 400),
         |bt AS (SELECT * FROM n0 WHERE doc_id >= 400),
         |idx AS (SELECT DISTINCT j FROM w1),
         |novel AS (SELECT * FROM bt WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.j = bt.j)),
         |d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |    list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
         |                       ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
         |  FROM d),
         |e AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
         |      FROM e a JOIN e b ON a.g = b.g AND b.doc_id < 400
         |      WHERE a.doc_id IN (SELECT doc_id FROM novel)
         |      GROUP BY 1, 2),
         |z AS (SELECT doc_id, len(sh) AS n FROM sh),
         |nd AS (SELECT DISTINCT c.id_a AS doc_id
         |       FROM c JOIN z za ON za.doc_id = c.id_a JOIN z zb ON zb.doc_id = c.id_b
         |       WHERE CAST(c.inter AS DOUBLE) / (za.n + zb.n - c.inter) >= 0.3),
         |acc AS (SELECT * FROM novel WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
         |c2 AS (SELECT * FROM w1 UNION ALL SELECT * FROM acc),
         |pa AS (${side("w1", "a")}),
         |pb AS (${side("c2", "b")})
         |SELECT 'wave1_size' AS metric, '-' AS col_name, CAST(count(*) AS BIGINT) AS "value" FROM w1
         |UNION ALL SELECT 'batch_size', '-', CAST(count(*) AS BIGINT) FROM bt
         |UNION ALL SELECT 'exact_novel', '-', CAST(count(*) AS BIGINT) FROM novel
         |UNION ALL SELECT 'neardup_dropped', '-', CAST(count(*) AS BIGINT) FROM nd
         |UNION ALL SELECT 'accepted_new', '-', CAST(count(*) AS BIGINT) FROM acc
         |UNION ALL SELECT 'corpus_after', '-', CAST(count(*) AS BIGINT) FROM c2
         |UNION ALL SELECT 'null_delta_micro', pa.col_name,
         |  CAST(floor((CAST(nn_b AS DOUBLE) / r_b - CAST(nn_a AS DOUBLE) / r_a) * 1000000.0 + 0.5) AS BIGINT)
         |  FROM pa JOIN pb USING (col_name)
         |UNION ALL SELECT 'distinct_delta', pa.col_name, CAST(nd_b - nd_a AS BIGINT)
         |  FROM pa JOIN pb USING (col_name)
         |UNION ALL SELECT 'mean_chars_micro', 'wave1',
         |  CAST(floor(CAST(sum(n_chars) AS DOUBLE) / count(n_chars) * 1000000.0 + 0.5) AS BIGINT) FROM w1
         |UNION ALL SELECT 'mean_chars_micro', 'wave2_accepted',
         |  CAST(floor(CAST(sum(n_chars) AS DOUBLE) / count(n_chars) * 1000000.0 + 0.5) AS BIGINT) FROM acc""".stripMargin
  }
}
