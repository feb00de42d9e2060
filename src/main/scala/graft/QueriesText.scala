package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Rounding
import graft.scale.TextAnalysis
import EntryShared._

/** [[SparkEntry]] slice: text-analysis operators (tokens, BPE, lang-ID, quality, retrieval, redaction).
  * Query lambdas and their DuckDB oracle mirrors live side by side;
  * the maps compose into the driver contract in [[SparkEntry]].
  * Determinism rules documented there apply to every entry.
  */
private[graft] object QueriesText {

  /** Context lengths the fit-audit key probes — shared between the
    * query lambda and the generated oracle SQL so the literals can
    * never drift. Small enough that the testdata doc lengths straddle
    * them (every row of the audit is non-trivial). */
  private val CtxFitLens: Seq[Int] = Seq(16, 64, 256)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // corpus health report: one narrow pass + one aggregate → the
    // (metric, value) audit a crawl delivery gets before any curation
    "x_text_report" -> ((s, d) =>
      TextAnalysis.corpusReport(T(s, d, "documents"), "text")),

    // context-window fit audit: ONE 1-row aggregate melted to a row
    // per candidate max_seq_len — docs fitting whole, tokens kept vs
    // truncated away at each length
    "x_text_ctxfit" -> ((s, d) =>
      TextAnalysis.contextFitAudit(T(s, d, "documents"), "text", CtxFitLens)),

    // BM25 top-k retrieval for one fixed query: narrow per-term tf
    // (no explode, no inverted index), 1-row corpus-stats broadcast,
    // TakeOrdered(k) epilogue; bm25_micro is the exact long sum of
    // half-up micro-unit term contributions (engine-invariant)
    "x_text_bm25" -> ((s, d) =>
      TextAnalysis.bm25TopK(T(s, d, "documents"), "doc_id", "text",
        query = "spark window merge vector", k = 10)),

    // the inverted-index BM25 form for a query TABLE: one (doc, token)
    // tf shuffle probed by the broadcast query vocabulary, per-query
    // top-k on the bounded aggregate (shuffle ∝ queries × k)
    "x_text_bm25_many" -> ((s, d) => {
      import s.implicits._
      val queries = Seq((1L, "spark window"), (2L, "merge vector table"),
        (3L, "customer stream")).toDF("query_id", "qtext")
      TextAnalysis.bm25TopKMany(T(s, d, "documents"), "doc_id", "text",
        queries, "query_id", "qtext", k = 5)
    }),

    // hybrid-retrieval fusion: two BM25 parameterizations of the same
    // query table, reciprocal-rank fused (rank-based — no score
    // normalization needed, the point of RRF)
    "x_text_rrf" -> ((s, d) => {
      import s.implicits._
      val queries = Seq((1L, "spark window"), (2L, "merge vector table"),
        (3L, "customer stream")).toDF("query_id", "qtext")
      val docs = T(s, d, "documents")
      // r15: both parameterizations rank off ONE shared tf/df pass
      // (bm25TopKManyParams) — element-wise identical rankings, half
      // the corpus work; the oracle is untouched
      val Seq(la, lb) = TextAnalysis.bm25TopKManyParams(docs, "doc_id", "text",
        queries, "query_id", "qtext", k = 5, params = Seq((1.2, 0.75), (0.3, 0.9)))
      graft.scale.Similarity.rrfFuse(la, lb, "query_id", "doc_id")
    }),

    // --- §7.4 text analysis ------------------------------------------
    "x_text_tokens" -> ((s, d) =>
      TextAnalysis.tokenStats(T(s, d, "documents"), "doc_id", "text")),

    "x_text_bpeish" -> ((s, d) =>
      TextAnalysis.tokenBudget(T(s, d, "documents"), "doc_id", "text")),

    "x_text_redact" -> ((s, d) => {
      // synthesize PII into the corpus so the scrubber paths all fire;
      // identical synthesis in the oracle SQL
      val withPii = T(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact u"), col("doc_id"), lit("@example.com or https://ex.com/d"),
          col("doc_id"), lit(" tel +1 555 123 45"), col("doc_id") % 100).as("text"))
      TextAnalysis.redactTable(withPii, "doc_id", "text")
    }),

    "x_text_tfidf" -> ((s, d) =>
      TextAnalysis.tfidfTopK(T(s, d, "documents"), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("token"),
          Rounding.halfUp(col("tfidf"), 9).as("tfidf"), col("rank"))),

    "x_text_topterms" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = T(s, d, "documents")
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(desc("n"), asc("token"))
      counts.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    }),

    "x_text_langid" -> ((s, d) =>
      TextAnalysis.langIdTable(T(s, d, "documents"), "doc_id", "text")),

    // vocab coverage curve: token mass covered by the top-k vocabulary
    // at candidate sizes — OOV(k) = 1 - coverage(k); TakeOrdered head
    // + cumulative window over the bounded top frame
    "x_text_vocab_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(T(s, d, "documents"), "text",
        ks = Seq(100, 1000, 10000))),

    // lang-ID confusion matrix vs the ground-truth column: WHICH
    // languages confuse, and where 'und' (no stopword coverage) lands
    "x_text_langid_confusion" -> ((s, d) =>
      TextAnalysis.langIdConfusion(T(s, d, "documents"), "doc_id", "text", "lang")),

    // unigram LM scoring against a trusted slice (doc_id % 3) as the
    // reference model; vocab capped at 1000 so the top-V election
    // (count desc, token asc) is exercised at every SF
    "x_text_unigram" -> ((s, d) => {
      val docs = T(s, d, "documents")
      TextAnalysis.unigramLogProbTable(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 3 === 0), "text", vocabSize = 1000)
    }),

    // bigram fluency scoring against the same doc_id%3 trusted slice:
    // word ORDER starts to matter (shuffled spam scores like gibberish)
    "x_text_bigram" -> ((s, d) => {
      val docs = T(s, d, "documents")
      TextAnalysis.bigramLogProbTable(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 3 === 0), "text")
    }),

    "x_text_quality" -> ((s, d) =>
      TextAnalysis.qualityTable(T(s, d, "documents"), "doc_id", "text")),

    // the Gopher rule set (Rae et al. 2021 §A1.1): per-rule
    // measurements + the conjunction, one narrow row-local pass
    "x_text_gopher" -> ((s, d) =>
      TextAnalysis.gopherRulesTable(T(s, d, "documents"), "doc_id", "text")),

    // Flesch / Flesch-Kincaid readability: exact integer counts + one
    // fixed IEEE literal chain per score (halfUp 6) — row-local pass
    "x_text_readability" -> ((s, d) =>
      TextAnalysis.readabilityTable(T(s, d, "documents"), "doc_id", "text")),

    // T5-style span corruption (block variant, 15% density, span 3):
    // hash-selected masks, consecutive sentinels — the denoising
    // (input, target) pair; doc-partitioned window + doc-keyed agg
    "x_text_spancorrupt" -> ((s, d) =>
      TextAnalysis.spanCorruptionTable(T(s, d, "documents"), "doc_id", "text")),

    // duplicate-group size per doc: the xxhash64 fingerprint itself is
    // engine-specific, but fingerprint equality ≡ normalized-token-
    // stream equality (collisions ~1e-15 here), so the GROUP SIZES are
    // oracle-able against DuckDB grouping the token stream directly
    "x_text_fingerprint" -> ((s, d) => {
      val fp = TextAnalysis.fingerprintTable(T(s, d, "documents"), "doc_id", "text")
      val sizes = fp.groupBy(col("fingerprint")).agg(count(lit(1)).as("n_same_fp"))
      fp.join(sizes, "fingerprint").select(col("doc_id"), col("n_same_fp"))
    }),

    // --- §7.4 corpus curation (round 3) ------------------------------
    "x_text_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(T(s, d, "documents"), "doc_id", "text")),

    // span-level exact-substring dedup: any 8-token window whose hash
    // repeats anywhere in the corpus masks its member tokens
    "x_text_spandedup" -> ((s, d) =>
      TextAnalysis.maskRepeatedSpans(T(s, d, "documents"), "doc_id", "text",
        w = 8, minCount = 2L)),

    // incremental span dedup: the new delivery (docs >= 400, the
    // x_dedup_incr split) masks spans whose combined frequency —
    // batch occurrences + the accepted corpus' span index — reaches 2
    "x_text_spandedup_incr" -> ((s, d) => {
      val docs = T(s, d, "documents")
      TextAnalysis.maskRepeatedSpansAgainstIndex(
        docs.filter(col("doc_id") >= 400),
        TextAnalysis.spanIndex(docs.filter(col("doc_id") < 400), "doc_id", "text", w = 8),
        "doc_id", "text", w = 8, minCount = 2L)
    }),

    // fasttext-shape hashed linear classifier: fit Naive-Bayes
    // log-odds over 1024 hashed buckets (positive class = English
    // docs), then score every document with the exact long sum
    "x_text_hashclf" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val labeled = docs.withColumn("__lab",
        coalesce(col("lang"), lit("")) === "en")
      val model = TextAnalysis.hashedClassifierFit(labeled, "text", "__lab", buckets = 1024)
      TextAnalysis.hashedClassifierScore(docs, "doc_id", "text", model, buckets = 1024)
    }),

    // calibration/reliability table: per mean-log-odds band, the
    // observed positive rate — catches fold-overs and dead score
    // regions that rank-based gates can't see
    "x_text_clf_calibration" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val labeled = docs.withColumn("__lab",
        coalesce(col("lang"), lit("")) === "en")
      // r14 optimization: score with the SAME persisted 1024-bucket
      // model the composition keys load (EntryShared.fittedClassifier —
      // the bestrep/budget/clffilter precedent): the calibration audit
      // is a model CONSUMER, and the save→load roundtrip is bit-exact
      // (gated by x_text_hashclf_saved), so the bins are unchanged
      // while the redundant in-query refit disappears. The direct-fit
      // path stays priced by x_text_hashclf.
      val model = fittedClassifier(s, d, buckets = 1024)
      TextAnalysis.classifierCalibration(labeled, "doc_id", "text", "__lab",
        model, buckets = 1024)
    }),

    // classifier persistence gate: fit→save→load→score with a LOADED
    // model must hash-match the direct fit-and-score chain (distinct
    // bucket count from x_text_hashclf so the gates can't mask each
    // other)
    "x_text_hashclf_saved" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val labeled = docs.withColumn("__lab",
        coalesce(col("lang"), lit("")) === "en")
      val model = TextAnalysis.hashedClassifierFit(labeled, "text", "__lab", buckets = 512)
      val dir = graft.scale.Models.tempArtifactDir("graft-hashclf-model")
      graft.scale.Models.saveHashedClassifier(model, dir)
      val loaded = graft.scale.Models.loadHashedClassifier(s, dir)
      TextAnalysis.hashedClassifierScore(docs, "doc_id", "text", loaded, buckets = 512)
    }),

    // BPE vocabulary training on the doc_id % 5 sample (fit on a
    // sample, encode everywhere — the production split): 6 learned
    // merges, deterministic tie-break, oracle replays the full loop
    "x_text_bpe" -> ((s, d) => {
      import s.implicits._
      fittedBpe(s, d, merges = 6)
        .map(m => (m.rank.toLong, m.left, m.right, m.pairCount))
        .toDF("rank", "left", "right", "pair_count")
    }),

    // the learned merges applied to the WHOLE corpus as one composed
    // narrow plan; per-doc unit stats are the token-budget numbers
    "x_text_bpe_encode" -> ((s, d) =>
      TextAnalysis.bpeEncode(T(s, d, "documents"), "doc_id", "text",
        fittedBpe(s, d, merges = 6))),

    // per-language fertility (units/word) and compression (chars/unit)
    // under the fitted vocabulary — the multilingual tokenizer-equity
    // audit; one narrow encode pass + a |langs|-row aggregate
    "x_text_fertility" -> ((s, d) =>
      TextAnalysis.tokenizerFertility(T(s, d, "documents"), "doc_id", "text",
        "lang", fittedBpe(s, d, merges = 6))),

    // the flat token stream itself (what a token-id mapping join
    // consumes) — oracle-gates the native BpeTokens expression
    // end-to-end, token by token with positions
    "x_text_bpe_tokens" -> ((s, d) =>
      TextAnalysis.bpeTokens(T(s, d, "documents"), "doc_id", "text",
        fittedBpe(s, d, merges = 6))
        .select(col("doc_id"), posexplode(col("tokens")).as(Seq("pos", "token")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))),

    // dense-id vocabulary (binary-UTF-8 order — the engines' shared
    // string collation) and the id stream a trainer consumes:
    // fit → encode → ids, the complete tokenizer path
    "x_text_bpe_vocab" -> ((s, d) =>
      TextAnalysis.bpeVocab(T(s, d, "documents"), "doc_id", "text",
        fittedBpe(s, d, merges = 6))),

    "x_text_bpe_ids" -> ((s, d) =>
      // fit-once vocab (a model artifact like the classifier/BPE
      // caches) + literal-map lookup: ONE encode pass per query
      TextAnalysis.bpeIdsWithVocab(T(s, d, "documents"), "doc_id", "text",
        fittedBpe(s, d, merges = 6), fittedBpeVocab(s, d, merges = 6))),

    "x_text_pack" -> ((s, d) =>
      TextAnalysis.packSequences(T(s, d, "documents"), "doc_id", "text",
        budget = 256, shards = 8)),

    // packing-efficiency audit over the same layout: per-shard volume,
    // pack count, tail waste, boundary straddles — all exact integers
    "x_text_packeff" -> ((s, d) =>
      TextAnalysis.packEfficiency(T(s, d, "documents"), "doc_id", "text",
        budget = 256, shards = 8)),

    "x_text_chunks" -> ((s, d) =>
      TextAnalysis.chunkDocuments(T(s, d, "documents"), "doc_id", "text",
        chunk = 32, overlap = 8)),

    // padded bucketed batching: linear 32-token bands, fixed
    // docs-per-batch within each (shard, band) — the no-split layout
    "x_text_batches" -> ((s, d) =>
      TextAnalysis.bucketedBatches(T(s, d, "documents"), "doc_id", "text",
        capacity = 256, bandWidth = 32, shards = 8)),

    // its per-shard audit: batches, padded footprint, padding waste
    "x_text_batcheff" -> ((s, d) =>
      TextAnalysis.batchEfficiency(T(s, d, "documents"), "doc_id", "text",
        capacity = 256, bandWidth = 32, shards = 8)),

    // synthesize URLs into the corpus (same pattern as x_text_redact's
    // PII synthesis) so the domain extractor has real work at every SF
    "x_text_domains" -> ((s, d) =>
      TextAnalysis.urlDomainStats(withUrls(T(s, d, "documents")), "doc_id", "text")),

    "x_text_blockfilter" -> ((s, d) =>
      TextAnalysis.filterBlockedDomains(withUrls(T(s, d, "documents")), "text",
        Seq("site3.example.com", "cdn1.example.org"))
        .select(col("doc_id"), col("lang"), col("source"))),

    // SUFFIX-semantics blocklist: blocking news2.example.com must also
    // catch subN.news2.example.com (the planted URLs all carry an
    // extra subdomain level, so exact-domain matching would block
    // nothing); unused.example.net proves dead entries are inert
    "x_text_blocksuffix" -> ((s, d) =>
      TextAnalysis.filterBlockedDomainSuffix(
          withSubdomainUrls(T(s, d, "documents")), "text", BlockSuffixList)
        .select(col("doc_id"), col("lang"), col("source"))),

    // blocklist hygiene report: per entry, URLs and docs it fires on,
    // zero-filled so dead entries surface for pruning
    "x_text_blocksuffix_audit" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.blockedDomainAudit(
        withSubdomainUrls(T(s, d, "documents")), "doc_id", "text",
        BlockSuffixList.toDF("domain"))
    }),

    // --- §7.4 round 4: line-level dedup / URL canon / PQ -------------
    // C4-style corpus-wide line dedup. The synthetic docs are
    // single-line, so lines are synthesized token-per-line (space →
    // newline) — which also plants massive hot duplicate lines ("the",
    // "a", …): exactly the boilerplate shape the partial-agg keeper
    // election must absorb
    "x_text_linededup" -> ((s, d) =>
      TextAnalysis.dedupLines(
        T(s, d, "documents").withColumn("text", translate(col("text"), " ", "\n")),
        "doc_id", "text")),

    // CCNet-style per-source boilerplate strip on the same synthesized
    // lines: common tokens recur across most docs OF EACH SOURCE, so the
    // election must absorb in-group hot keys while leaving rare lines
    // (rare tokens) untouched
    "x_text_boilerplate" -> ((s, d) =>
      TextAnalysis.stripBoilerplate(
        T(s, d, "documents").withColumn("text", translate(col("text"), " ", "\n")),
        "doc_id", "text", "source", minDocs = 3)),

    // collocation mining: window-2 skipgram pairs ranked by lift
    // (rank-equivalent to PMI, no transcendental in the output)
    "x_text_pmi" -> ((s, d) =>
      TextAnalysis.pmiPairs(T(s, d, "documents"), "doc_id", "text",
        window = 2, minCount = 5L, topK = 25)),

    "x_text_urlcanon" -> ((s, d) =>
      TextAnalysis.urlCanonStats(withTrackedUrls(T(s, d, "documents")), "doc_id", "text")),

    // unicode normalization: plant a combining sequence (NFC composes),
    // a zero-width space, a control char, and a CRLF in every doc —
    // the oracle re-derives the identical chain via nfc_normalize
    "x_text_normalize" -> ((s, d) =>
      TextAnalysis.normalizeTable(
        T(s, d, "documents").withColumn("text",
          concat(col("text"), lit(" cafe\u0301\u200B zw\u0007ctl\r\nnl"))),
        "doc_id", "text")),

    // tokenizer ROUND-TRIP gate: decode the id stream through the
    // reversed vocab and check it reproduces the whitespace-stripped
    // normalized input — encode → vocab → ids → decode as ONE path
    "x_text_bpe_decode" -> ((s, d) =>
      TextAnalysis.bpeDecodeAudit(T(s, d, "documents"), "doc_id", "text",
        "source", fittedBpe(s, d, merges = 6),
        fittedBpeVocab(s, d, merges = 6))),

    // mixture-diversity audit: Shannon unigram entropy per source
    "x_text_entropy" -> ((s, d) =>
      TextAnalysis.sliceEntropy(T(s, d, "documents"), "source", "text")),

    // mixture-redundancy audit: pairwise Jensen-Shannon divergence
    // between the sources' unigram distributions
    "x_text_js" -> ((s, d) =>
      TextAnalysis.sliceJsDivergence(T(s, d, "documents"), "source", "text")),

    // --- C4/FineWeb web-corpus line filters (round-10) ----------------
    // the rule layer before model-based quality: the synthetic corpus
    // has no web boilerplate, so the query PLANTS the structures the
    // filters exist to catch (braces, lorem ipsum, a cookie notice,
    // multi-line docs with terminal punctuation) by doc_id class —
    // the s30 move; the oracle replays the plant verbatim
    "x_text_c4filters" -> ((s, d) =>
      graft.scale.WebFilters.c4LineFilters(c4PlantedDocs(s, d), "text",
          minWordsPerLine = 5, minKeptLines = 2)
        .select(col("doc_id"), col("has_brace"), col("has_lorem"), col("has_policy"),
          col("n_lines"), col("n_kept_lines"), col("kept_ratio_micro"), col("keep"))),

    // template-prefix detection over a planted view (every 3rd doc is
    // stamped with a mailer prefix): shared 24-char prefixes per
    // source with exact integer shares — the structural-dup signal
    "x_text_templates" -> ((s, d) => {
      val planted = T(s, d, "documents").select(
        col("source"),
        when(col("doc_id") % 3 === 0,
            concat(lit("Subscribe to our newsletter today! "), col("text")))
          .otherwise(col("text")).as("text"))
      graft.scale.WebFilters.templatePrefixShares(planted, "source", "text",
        prefixChars = 24, minCount = 2)
    }),
  )

  val oracleSql: Map[String, String] = Map(

    // corpus report: the same per-row conventions as the stage oracles
    // (toks, stopword-argmax lang, quality predicate, portable poly
    // fingerprint), one aggregate, UNION ALL to (metric, value)
    // context-fit audit: the same per-length conditional sums in ONE
    // aggregate, melted to a row per length via UNION ALL; null text
    // coalesces to 0 tokens in BOTH engines
    "x_text_ctxfit" -> {
      val sums = CtxFitLens.map { len =>
        s"""CAST(coalesce(sum(CASE WHEN nt <= $len THEN 1 END), 0) AS BIGINT) AS f_$len,
           |        CAST(coalesce(sum(least(nt, $len)), 0) AS BIGINT) AS k_$len""".stripMargin
      }.mkString(",\n        ")
      val rows = CtxFitLens.map { len =>
        s"SELECT CAST($len AS BIGINT) AS context_len, n_docs, f_$len AS n_fit, tokens_total, k_$len AS tokens_kept FROM agg"
      }.mkString("\n         |      UNION ALL ")
      s"""WITH t AS (SELECT coalesce(len($toksSql), 0) AS nt FROM documents),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(coalesce(sum(nt), 0) AS BIGINT) AS tokens_total,
         |        $sums
         |        FROM t),
         |m AS ($rows)
         |SELECT context_len, n_docs, n_fit,
         |       CASE WHEN n_docs > 0 THEN CAST((n_fit * 1000000) // n_docs AS BIGINT) END AS fit_micro,
         |       tokens_total, tokens_kept,
         |       tokens_total - tokens_kept AS tokens_lost
         |FROM m""".stripMargin
    },

    "x_text_report" -> {
      val m = "greatest(score_de, score_en, score_es, score_fr, score_zh)"
      val nD = "(CASE WHEN n_docs > 0 THEN CAST(n_docs AS DOUBLE) END)"
      val langRows = Seq("de", "en", "es", "fr", "zh", "und").map(l =>
        s"UNION ALL SELECT 'lang_share_$l', n_$l / $nD FROM a").mkString("\n")
      s"""WITH tl AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |${stopScoreCtes("tl")},
         |lng AS (SELECT doc_id,
         |          CASE WHEN $m = 0 THEN 'und'
         |               WHEN score_de = $m THEN 'de'
         |               WHEN score_en = $m THEN 'en'
         |               WHEN score_es = $m THEN 'es'
         |               WHEN score_fr = $m THEN 'fr'
         |               ELSE 'zh' END AS lang
         |        FROM sl),
         |q AS (SELECT doc_id,
         |        CAST(len(toks) AS BIGINT) AS tok,
         |        CASE WHEN len(toks) >= 5 AND len(toks) <= 100000
         |              AND (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) / (CASE WHEN length(text) > 0 THEN length(text) END) < 0.3
         |             THEN 1 ELSE 0 END AS keep,
         |        ${polyHashSqlOf("array_to_string(toks, ' ')")} AS f
         |      FROM tl),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(CASE WHEN q.tok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
         |        CAST(sum(q.tok) AS BIGINT) AS total_tokens,
         |        CAST(sum(q.keep) AS BIGINT) AS n_keep,
         |        CAST(count(DISTINCT q.f) AS BIGINT) AS n_fp,
         |        CAST(sum(CASE WHEN lng.lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
         |        CAST(sum(CASE WHEN lng.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |        CAST(sum(CASE WHEN lng.lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
         |        CAST(sum(CASE WHEN lng.lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
         |        CAST(sum(CASE WHEN lng.lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh,
         |        CAST(sum(CASE WHEN lng.lang = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS n_und
         |      FROM q JOIN lng ON q.doc_id = lng.doc_id)
         |SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS "value" FROM a
         |UNION ALL SELECT 'n_empty_docs', CAST(n_empty AS DOUBLE) FROM a
         |UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM a
         |UNION ALL SELECT 'quality_keep_rate', n_keep / $nD FROM a
         |UNION ALL SELECT 'exact_dup_rate', 1.0 - n_fp / $nD FROM a
         |$langRows""".stripMargin
    },

    // BM25: same association order as bm25Contrib's expressions — IEEE
    // +,*,/ agree exactly; ln() ulp drift is absorbed by the half-up
    // micro-unit grid before the (order-invariant) long sum. The k1/b
    // constants are interpolated from the SAME Scala doubles the Spark
    // plan uses (shortest-roundtrip decimal, parses back bit-identical).
    "x_text_bm25" -> {
      val terms = Seq("spark", "window", "merge", "vector")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$i" }.mkString(",\n  ")
      val dfCols = terms.indices.map(i =>
        s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i").mkString(",\n  ")
      val contribs = terms.indices.map { i =>
        s"CASE WHEN tf_$i > 0 THEN ${bm25ContribSql(s"tf_$i", s"df_$i", "dl", "nd", "tt")} ELSE 0 END"
      }.mkString(" +\n")
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         |  $tfCols
         |  FROM d),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(dl) AS BIGINT) AS tt,
         |  $dfCols
         |  FROM p)
         |SELECT doc_id, bm25_micro FROM (
         |  SELECT doc_id, ($contribs) AS bm25_micro FROM p, s)
         |WHERE bm25_micro > 0
         |ORDER BY bm25_micro DESC, doc_id LIMIT 10""".stripMargin
    },

    // many-query BM25: the inverted-index formulation, same contrib
    // kernel; per-query top-5 mirrors the bounded aggregate's
    // (score desc, id asc) total order
    "x_text_bm25_many" ->
      s"""WITH $bm25ManyBaseCtes,
         |${bm25ManyRankCtes("m", 1.2, 0.75, 5)}
         |SELECT query_id, doc_id, bm25_micro, CAST(rk AS INT) AS rank FROM mr""".stripMargin,

    // reciprocal-rank fusion of the two BM25 parameterizations: the
    // same rank chains instantiated twice, fused on coalesced keys
    "x_text_rrf" ->
      s"""WITH $bm25ManyBaseCtes,
         |${bm25ManyRankCtes("pa", 1.2, 0.75, 5)},
         |${bm25ManyRankCtes("pb", 0.3, 0.9, 5)}
         |SELECT query_id, doc_id,
         |       CAST(a.rk AS INT) AS rank_a, CAST(b2.rk AS INT) AS rank_b,
         |       coalesce(1.0 / (60.0 + CAST(a.rk AS DOUBLE)), 0.0)
         |         + coalesce(1.0 / (60.0 + CAST(b2.rk AS DOUBLE)), 0.0) AS rrf
         |FROM par a FULL JOIN pbr b2 USING (query_id, doc_id)""".stripMargin,

    // group sizes from exact normalized-token-stream equality — what the
    // xxhash64 fingerprint encodes, minus the (negligible) collisions
    "x_text_fingerprint" ->
      s"""SELECT doc_id,
         |       CAST(count(*) OVER (PARTITION BY array_to_string($toksSql, ' ')) AS BIGINT) AS n_same_fp
         |FROM documents""".stripMargin,

    "x_text_bpeish" ->
      s"""SELECT doc_id,
         |       CAST(len($toksSql) AS BIGINT) AS ws_tokens,
         |       CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS BIGINT) AS bpeish_tokens
         |FROM documents""".stripMargin,

    "x_text_tokens" ->
      s"""SELECT doc_id,
         |       CAST(len($toksSql) AS BIGINT) AS token_count,
         |       CAST(length(text) AS BIGINT) AS char_count
         |FROM documents""".stripMargin,

    "x_text_redact" ->
      """WITH p AS (SELECT doc_id,
        |    text || ' contact u' || doc_id || '@example.com or https://ex.com/d' || doc_id || ' tel +1 555 123 45' || (doc_id % 100) AS text
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        'https?://[^\s]+', '<URL>', 'g'),
        |      '\+?[0-9][0-9()\-\. ]{7,}[0-9]', '<PHONE>', 'g') AS clean_text
        |  FROM p)
        |SELECT doc_id, clean_text,
        |       CAST(len(string_split_regex(clean_text, '<EMAIL>|<URL>|<PHONE>')) - 1 AS BIGINT) AS n_redactions
        |FROM r""".stripMargin,

    "x_text_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |              FROM documents WHERE trim(text) <> ''),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf_cnt FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS doc_len FROM toks GROUP BY 1),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.token,
        |             (tf_cnt / doc_len) * ln(n_docs / df) AS tfidf
        |      FROM tf JOIN dl USING (doc_id) JOIN dfq USING (token), n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rk FROM s)
        |SELECT doc_id, token, floor(tfidf * 1000000000 + 0.5) / 1000000000 AS tfidf, CAST(rk AS INT) AS rank
        |FROM r WHERE rk <= 3""".stripMargin,

    "x_text_topterms" ->
      """WITH t AS (SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |           FROM documents WHERE trim(text) <> ''),
        |g AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rk FROM g)
        |SELECT lang, token, n, CAST(rk AS INT) AS rank FROM r WHERE rk <= 5""".stripMargin,

    "x_text_langid" -> {
      val m = "greatest(score_de, score_en, score_es, score_fr, score_zh)"
      s"""WITH tl AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |${stopScoreCtes("tl")}
         |SELECT doc_id,
         |       CASE WHEN $m = 0 THEN 'und'
         |            WHEN score_de = $m THEN 'de'
         |            WHEN score_en = $m THEN 'en'
         |            WHEN score_es = $m THEN 'es'
         |            WHEN score_fr = $m THEN 'fr'
         |            ELSE 'zh' END AS pred_lang,
         |       score_de, score_en, score_es, score_fr, score_zh
         |FROM sl""".stripMargin
    },

    // coverage: same (cnt desc, token asc) vocab election, cumulative
    // over the rank<=max(k) head, k probes joined against it
    "x_text_vocab_coverage" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS t FROM documents),
         |c AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
         |tt AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS total FROM c),
         |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, t ASC) AS rk FROM c),
         |cm AS (SELECT rk, sum(cnt) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS cum
         |       FROM r WHERE rk <= 10000),
         |kk AS (SELECT unnest([CAST(100 AS BIGINT), 1000, 10000]) AS k)
         |SELECT kk.k, CAST(max(cm.cum) AS BIGINT) AS covered_tokens,
         |       ${Rounding.halfUpSql("CAST(max(cm.cum) AS DOUBLE) / total", 6)} AS coverage
         |FROM kk JOIN cm ON cm.rk <= kk.k, tt
         |GROUP BY kk.k, tt.total""".stripMargin,

    // confusion matrix: the same stopword-argmax CTEs joined to the
    // ground-truth lang column
    "x_text_langid_confusion" -> {
      val m = "greatest(score_de, score_en, score_es, score_fr, score_zh)"
      s"""WITH tl AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |${stopScoreCtes("tl")},
         |p AS (SELECT doc_id,
         |        CASE WHEN $m = 0 THEN 'und'
         |             WHEN score_de = $m THEN 'de'
         |             WHEN score_en = $m THEN 'en'
         |             WHEN score_es = $m THEN 'es'
         |             WHEN score_fr = $m THEN 'fr'
         |             ELSE 'zh' END AS pred_lang
         |      FROM sl)
         |SELECT coalesce(CAST(d.lang AS VARCHAR), '') AS lang, p.pred_lang,
         |       CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents d JOIN p ON d.doc_id = p.doc_id
         |GROUP BY 1, 2""".stripMargin
    },

    // identical model build (top-1000 vocab by (cnt desc, token asc),
    // add-one smoothing) and the identical scaled-long fold: log p is
    // floored to micro-nat longs ONCE per vocab token, so every
    // per-document sum is exact integer arithmetic on both engines
    "x_text_unigram" ->
      s"""WITH $unigramScoreCtes
         |SELECT d.doc_id,
         |       coalesce(sc.n_tokens, 0) AS n_tokens,
         |       coalesce(sc.n_oov, 0) AS n_oov,
         |       floor((CAST(s6 AS DOUBLE) / 1000000 / n_tokens) * 1000000000 + 0.5) / 1000000000 AS avg_logp
         |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,

    // bigram model replayed in full: realized-bigram logp6 table,
    // per-context unseen fallback, global unseen-context fallback —
    // all on the 6-dp scaled-long grid, summed in exact integers
    "x_text_bigram" ->
      """WITH ra AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS arr
        |            FROM documents WHERE doc_id % 3 = 0 AND trim(text) <> ''),
        |vv AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v
        |       FROM (SELECT unnest(arr) AS t FROM ra)),
        |rb0 AS (SELECT arr, unnest(range(1, len(arr))) AS i FROM ra WHERE len(arr) >= 2),
        |rbi AS (SELECT arr[i] AS u, arr[i + 1] AS w, CAST(count(*) AS BIGINT) AS cnt
        |        FROM rb0 GROUP BY 1, 2),
        |ctx AS (SELECT u, CAST(sum(cnt) AS BIGINT) AS cu FROM rbi GROUP BY 1),
        |bp AS (SELECT u, w,
        |         CAST(floor(ln((CAST(cnt AS DOUBLE) + 1) / (cu + v + 1)) * 1000000 + 0.5) AS BIGINT) AS bp6
        |       FROM rbi JOIN ctx USING (u), vv),
        |cp AS (SELECT u,
        |         CAST(floor(ln(CAST(1 AS DOUBLE) / (cu + v + 1)) * 1000000 + 0.5) AS BIGINT) AS cp6
        |       FROM ctx, vv),
        |g AS (SELECT CAST(floor(ln(CAST(1 AS DOUBLE) / (v + 1)) * 1000000 + 0.5) AS BIGINT) AS g6 FROM vv),
        |da AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS arr
        |       FROM documents WHERE trim(text) <> ''),
        |db0 AS (SELECT doc_id, arr, unnest(range(1, len(arr))) AS i FROM da WHERE len(arr) >= 2),
        |db AS (SELECT doc_id, arr[i] AS u, arr[i + 1] AS w, CAST(count(*) AS BIGINT) AS n
        |       FROM db0 GROUP BY 1, 2, 3),
        |sc AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_pairs,
        |              CAST(sum(CASE WHEN bp6 IS NULL THEN n ELSE 0 END) AS BIGINT) AS n_unseen,
        |              sum(n * coalesce(bp6, cp6, g6)) AS s6
        |       FROM db LEFT JOIN bp USING (u, w) LEFT JOIN cp USING (u), g GROUP BY 1)
        |SELECT d.doc_id,
        |       coalesce(sc.n_pairs, 0) AS n_pairs,
        |       coalesce(sc.n_unseen, 0) AS n_unseen,
        |       floor((CAST(s6 AS DOUBLE) / 1000000 / n_pairs) * 1000000000 + 0.5) / 1000000000 AS avg_logp
        |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,

    "x_text_quality" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |         length(text) AS chars,
         |         length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS nonpunct,
         |         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
         |         len($toksSql) AS toks,
         |         len(list_filter($toksSql, x -> list_contains(${stopSqlLists("en")}, x))) AS stophits
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(chars AS BIGINT) AS char_count,
         |       CAST(toks AS BIGINT) AS token_count,
         |       (chars - nonpunct) / (CASE WHEN chars > 0 THEN chars END) AS punct_ratio,
         |       digits / (CASE WHEN chars > 0 THEN chars END) AS digit_ratio,
         |       stophits / (CASE WHEN toks > 0 THEN toks END) AS stopword_ratio,
         |       (toks >= 5 AND toks <= 100000 AND (chars - nonpunct) / (CASE WHEN chars > 0 THEN chars END) < 0.3) AS keep
         |FROM b""".stripMargin,

    // Gopher rules: exact integer counts, raw IEEE divisions, the
    // conjunction under three-valued logic (n >= 50 is FALSE for empty
    // docs, so FALSE AND NULL = FALSE on both engines)
    "x_text_gopher" ->
      s"""WITH a AS (SELECT doc_id, text, $toksSql AS toks
         |           FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)),
         |g AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_words,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(toks, x -> CAST(len(x) AS BIGINT))), (a, b) -> a + b)
         |    / (CASE WHEN len(toks) > 0 THEN CAST(len(toks) AS DOUBLE) END) AS mean_word_len,
         |  CAST((len(string_split(text, '#')) - 1)
         |       + (len(string_split(text, '...')) - 1) AS DOUBLE)
         |    / (CASE WHEN len(toks) > 0 THEN CAST(len(toks) AS DOUBLE) END) AS symbol_ratio,
         |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
         |    / (CASE WHEN len(toks) > 0 THEN CAST(len(toks) AS DOUBLE) END) AS alpha_word_frac,
         |  CAST(len(list_intersect(list_distinct(toks),
         |       ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS BIGINT) AS n_stop_hits
         |  FROM a)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac, n_stop_hits,
         |       (n_words >= 50 AND n_words <= 100000
         |        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |        AND symbol_ratio <= 0.1
         |        AND alpha_word_frac >= 0.8
         |        AND n_stop_hits >= 2) AS keep
         |FROM g""".stripMargin,

    // readability: exact integer counts (sentences = non-empty [.!?]+
    // segments, syllables = per-word max(1, vowel-group count)), then
    // each score is the IDENTICAL left-associative double-literal chain
    // Spark evaluates, rounded half-up to 6 dp
    "x_text_readability" ->
      s"""WITH a AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
         |b AS (SELECT doc_id,
         |  CAST(len(list_filter(string_split_regex(text, '[.!?]+'), x -> trim(x) <> '')) AS BIGINT) AS n_sentences,
         |  CAST(len($toksSql) AS BIGINT) AS n_words,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform($toksSql, w ->
         |        CAST(greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))) AS BIGINT))),
         |    (acc, c) -> acc + c) AS n_syllables
         |  FROM a)
         |SELECT doc_id, n_sentences, n_words, n_syllables,
         |  ${Rounding.halfUpSql(
               "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / (CASE WHEN n_sentences > 0 THEN n_sentences END)) " +
               "- 84.6 * (CAST(n_syllables AS DOUBLE) / (CASE WHEN n_words > 0 THEN n_words END))", 6)} AS flesch,
         |  ${Rounding.halfUpSql(
               "0.39 * (CAST(n_words AS DOUBLE) / (CASE WHEN n_sentences > 0 THEN n_sentences END)) " +
               "+ 11.8 * (CAST(n_syllables AS DOUBLE) / (CASE WHEN n_words > 0 THEN n_words END)) - 15.59", 6)} AS fk_grade
         |FROM b""".stripMargin,

    // span corruption: same chunking (fixed span 3), same poly-hash
    // mask decision on "id:j", running sentinel index as a window,
    // string_agg ORDER BY j replays the sorted-struct assembly
    "x_text_spancorrupt" ->
      s"""WITH d0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |d AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 3.0) AS INT) AS nc FROM d0),
         |c AS (SELECT doc_id, toks, unnest(range(0, nc)) AS j FROM d WHERE nc > 0),
         |ch AS (SELECT doc_id, j,
         |         array_to_string(toks[j*3+1 : j*3+3], ' ') AS chunk,
         |         len(toks[j*3+1 : j*3+3]) AS nch,
         |         (${polyHashSqlOf("CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)")} % 20) < 3 AS masked
         |       FROM c),
         |w AS (SELECT *, coalesce(sum(CASE WHEN masked THEN 1 ELSE 0 END)
         |         OVER (PARTITION BY doc_id ORDER BY j
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS k
         |      FROM ch),
         |a AS (SELECT doc_id,
         |        CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
         |        CAST(sum(CASE WHEN masked THEN nch ELSE 0 END) AS BIGINT) AS n_masked_tokens,
         |        string_agg(CASE WHEN masked THEN '<extra_id_' || k || '>' ELSE chunk END, ' ' ORDER BY j) AS input,
         |        string_agg(CASE WHEN masked THEN '<extra_id_' || k || '>' || ' ' || chunk END, ' ' ORDER BY j) AS target
         |      FROM w GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
         |       coalesce(a.n_spans, 0) AS n_spans,
         |       coalesce(a.n_masked_tokens, 0) AS n_masked_tokens,
         |       coalesce(a.input, '') AS input,
         |       coalesce(a.target, '') AS target
         |FROM d LEFT JOIN a ON d.doc_id = a.doc_id""".stripMargin,

    // unigram/bigram counts are exact integers; every ratio is one IEEE
    // division (engine-exact); zero denominators null out via the CASE
    // guard exactly like the Spark `when` guard
    "x_text_repetition" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |u0 AS (SELECT doc_id, unnest(toks) AS t FROM d),
         |uc AS (SELECT doc_id, t, count(*) AS c FROM u0 GROUP BY 1, 2),
         |u AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tc, CAST(count(*) AS BIGINT) AS td,
         |             CAST(max(c) AS BIGINT) AS topt, CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dupt
         |      FROM uc GROUP BY 1),
         |bg AS (SELECT doc_id, CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
         |                           ELSE list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) END AS bgs
         |       FROM d),
         |b0 AS (SELECT doc_id, unnest(bgs) AS g FROM bg),
         |bc AS (SELECT doc_id, g, count(*) AS c FROM b0 GROUP BY 1, 2),
         |b AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS bc, CAST(max(c) AS BIGINT) AS topb,
         |             CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dupb
         |      FROM bc GROUP BY 1)
         |SELECT d.doc_id,
         |       coalesce(u.tc, 0) AS token_count,
         |       u.td / (CASE WHEN u.tc > 0 THEN CAST(u.tc AS DOUBLE) END) AS distinct_token_ratio,
         |       u.topt / (CASE WHEN u.tc > 0 THEN CAST(u.tc AS DOUBLE) END) AS top_token_frac,
         |       u.dupt / (CASE WHEN u.tc > 0 THEN CAST(u.tc AS DOUBLE) END) AS dup_token_frac,
         |       coalesce(b.bc, 0) AS bigram_count,
         |       b.topb / (CASE WHEN b.bc > 0 THEN CAST(b.bc AS DOUBLE) END) AS top_bigram_frac,
         |       b.dupb / (CASE WHEN b.bc > 0 THEN CAST(b.bc AS DOUBLE) END) AS dup_bigram_frac
         |FROM d LEFT JOIN u ON d.doc_id = u.doc_id LEFT JOIN b ON d.doc_id = b.doc_id""".stripMargin,

    // same window enumeration (1-based list slices), same poly-hash
    // kernel; a window is duplicated at >= 2 TOTAL occurrences (intra-
    // doc repeats count); a token is masked when any duplicated window
    // covers its position
    "x_text_spandedup" ->
      s"""WITH a AS (SELECT doc_id, $toksSql AS toks
         |           FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)),
         |w0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM a WHERE len(toks) >= 8),
         |wh AS (SELECT doc_id, i, ${polyHashSqlOf("array_to_string(list_slice(toks, i, i + 7), ' ')")} AS h FROM w0),
         |dup AS (SELECT h FROM wh GROUP BY h HAVING count(*) >= 2),
         |st AS (SELECT doc_id, i FROM wh WHERE h IN (SELECT h FROM dup)),
         |sg AS (SELECT doc_id, list(i) AS starts, CAST(count(*) AS BIGINT) AS nds FROM st GROUP BY doc_id),
         |p0 AS (SELECT a.doc_id, toks, coalesce(sg.starts, []) AS starts FROM a LEFT JOIN sg USING (doc_id)),
         |px AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, toks, starts FROM p0 WHERE len(toks) >= 1),
         |kp AS (SELECT doc_id, p, toks[p] AS tok FROM px
         |       WHERE len(list_filter(starts, s -> s <= p AND p < s + 8)) = 0),
         |kg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |              string_agg(tok, ' ' ORDER BY p) AS clean_text FROM kp GROUP BY doc_id)
         |SELECT a.doc_id, CAST(len(a.toks) AS BIGINT) AS n_tokens,
         |       coalesce(sg.nds, CAST(0 AS BIGINT)) AS n_dup_spans,
         |       coalesce(kg.n_kept, CAST(0 AS BIGINT)) AS n_kept,
         |       coalesce(kg.clean_text, '') AS clean_text
         |FROM a LEFT JOIN sg USING (doc_id) LEFT JOIN kg USING (doc_id)""".stripMargin,

    // the batch-side window enumeration plus the index side's span
    // counts; duplicated = batch count + index count >= 2
    "x_text_spandedup_incr" ->
      s"""WITH a AS (SELECT doc_id, $toksSql AS toks
         |           FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents WHERE doc_id >= 400)),
         |ix AS (SELECT doc_id, $toksSql AS toks
         |       FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents WHERE doc_id < 400)),
         |w0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM a WHERE len(toks) >= 8),
         |wh AS (SELECT doc_id, i, ${polyHashSqlOf("array_to_string(list_slice(toks, i, i + 7), ' ')")} AS h FROM w0),
         |iw0 AS (SELECT toks, unnest(range(1, len(toks) - 6)) AS i FROM ix WHERE len(toks) >= 8),
         |iwh AS (SELECT ${polyHashSqlOf("array_to_string(list_slice(toks, i, i + 7), ' ')")} AS h FROM iw0),
         |ic AS (SELECT h, CAST(count(*) AS BIGINT) AS n FROM iwh GROUP BY h),
         |bc AS (SELECT h, CAST(count(*) AS BIGINT) AS n FROM wh GROUP BY h),
         |dup AS (SELECT bc.h FROM bc LEFT JOIN ic USING (h)
         |        WHERE bc.n + coalesce(ic.n, 0) >= 2),
         |st AS (SELECT doc_id, i FROM wh WHERE h IN (SELECT h FROM dup)),
         |sg AS (SELECT doc_id, list(i) AS starts, CAST(count(*) AS BIGINT) AS nds FROM st GROUP BY doc_id),
         |p0 AS (SELECT a.doc_id, toks, coalesce(sg.starts, []) AS starts FROM a LEFT JOIN sg USING (doc_id)),
         |px AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, toks, starts FROM p0 WHERE len(toks) >= 1),
         |kp AS (SELECT doc_id, p, toks[p] AS tok FROM px
         |       WHERE len(list_filter(starts, s -> s <= p AND p < s + 8)) = 0),
         |kg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |              string_agg(tok, ' ' ORDER BY p) AS clean_text FROM kp GROUP BY doc_id)
         |SELECT a.doc_id, CAST(len(a.toks) AS BIGINT) AS n_tokens,
         |       coalesce(sg.nds, CAST(0 AS BIGINT)) AS n_dup_spans,
         |       coalesce(kg.n_kept, CAST(0 AS BIGINT)) AS n_kept,
         |       coalesce(kg.clean_text, '') AS clean_text
         |FROM a LEFT JOIN sg USING (doc_id) LEFT JOIN kg USING (doc_id)""".stripMargin,

    // same hashed-bucket model: poly-hash % 1024, add-one log-odds on
    // the 6-dp micro grid (ln drift absorbed, cf. the BM25 kernel),
    // doc scores as exact BIGINT sums
    "x_text_hashclf" ->
      s"""WITH ${hashClfCtes(1024)}
         |SELECT doc_id, n_tokens, score_micro FROM hsc""".stripMargin,

    // calibration: mean-log-odds double binning (floor of the same
    // IEEE tree — safe for negative scores, where integer div's
    // truncate-vs-floor split would break parity), per-doc means
    // micro-rounded before the bin sum
    "x_text_clf_calibration" ->
      s"""WITH ${hashClfCtes(1024)},
         |cl AS (SELECT hsc.doc_id, hsc.n_tokens, hsc.score_micro,
         |         coalesce(d.lang, '') = 'en' AS pos
         |       FROM hsc JOIN documents d USING (doc_id) WHERE hsc.n_tokens > 0),
         |cb AS (SELECT
         |    CAST(floor(CAST(score_micro AS DOUBLE) / (1000000.0 * CAST(n_tokens AS DOUBLE)) * 4) AS BIGINT) AS bin,
         |    CAST(floor(CAST(score_micro AS DOUBLE) / (1000000.0 * CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS m6,
         |    pos FROM cl)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |       ${Rounding.halfUpSql(
                   "CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS pos_rate,
         |       ${Rounding.halfUpSql(
                   "CAST(sum(m6) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE)", 6)} AS mean_score
         |FROM cb GROUP BY 1""".stripMargin,

    // the saved-model roundtrip scores bit-identically to the direct
    // chain, so ONE oracle definition covers both — at the distinct
    // 512-bucket shape
    "x_text_hashclf_saved" ->
      s"""WITH ${hashClfCtes(512)}
         |SELECT doc_id, n_tokens, score_micro FROM hsc""".stripMargin,

    // BPE merge table: the unrolled training loop (see bpeLearnCtes)
    "x_text_bpe" ->
      s"""WITH $bpeLearnCtes,
         |mt AS (${(1 to BpeMergeRounds).map(i =>
        s"""SELECT CAST(${i - 1} AS BIGINT) AS rank, l AS "left", r AS "right", c AS pair_count FROM m$i""")
        .mkString("\nUNION ALL ")})
         |SELECT rank, "left", "right", pair_count FROM mt""".stripMargin,

    // learned on the sample slice, applied to every document; unit
    // stats in exact integers
    "x_text_bpe_encode" ->
      s"""WITH $bpeEncodeCtes
         |SELECT doc_id,
         |  CAST(len(reps) AS BIGINT) AS n_words,
         |  CAST(coalesce(list_sum(list_transform(reps, s -> len(string_split(trim(s, '|'), '||')))), 0) AS BIGINT) AS n_units,
         |  CAST(coalesce(list_sum(list_transform(reps, s -> length(s) - 2 * len(string_split(trim(s, '|'), '||')))), 0) AS BIGINT) AS n_chars
         |FROM f$BpeMergeRounds""".stripMargin,

    // fertility: the encode chain's per-doc stats joined to lang, then
    // exact long sums (CAST back from DuckDB's HUGEINT widening) and
    // the identical halfUp-6 ratio chains
    "x_text_fertility" ->
      s"""WITH $bpeEncodeCtes,
         |st AS (SELECT doc_id,
         |         CAST(len(reps) AS BIGINT) AS n_words,
         |         CAST(coalesce(list_sum(list_transform(reps, s -> len(string_split(trim(s, '|'), '||')))), 0) AS BIGINT) AS n_units,
         |         CAST(coalesce(list_sum(list_transform(reps, s -> length(s) - 2 * len(string_split(trim(s, '|'), '||')))), 0) AS BIGINT) AS n_chars
         |       FROM f$BpeMergeRounds),
         |lj AS (SELECT coalesce(CAST(d.lang AS VARCHAR), '') AS lang,
         |              st.n_words, st.n_units, st.n_chars
         |       FROM documents d JOIN st ON d.doc_id = st.doc_id),
         |ag AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(n_words) AS BIGINT) AS n_words,
         |         CAST(sum(n_units) AS BIGINT) AS n_units,
         |         CAST(sum(n_chars) AS BIGINT) AS n_chars
         |       FROM lj GROUP BY 1)
         |SELECT lang, n_docs, n_words, n_units, n_chars,
         |       ${Rounding.halfUpSql(
                   "CAST(n_units AS DOUBLE) / (CASE WHEN n_words > 0 THEN n_words END)", 6)} AS fertility,
         |       ${Rounding.halfUpSql(
                   "CAST(n_chars AS DOUBLE) / (CASE WHEN n_units > 0 THEN n_units END)", 6)} AS chars_per_unit
         |FROM ag""".stripMargin,

    // flat token stream: flatten the per-word unit lists of the
    // fully-merged representation, position-indexed (generate_subscripts
    // zips with unnest — the same paired-expansion idiom as the
    // pair-count CTEs)
    "x_text_bpe_tokens" ->
      s"""WITH $bpeStreamCtes
         |SELECT doc_id, pos, token FROM s""".stripMargin,

    // shard-partitioned running sum (never a global sort), integer
    // div/mod — exact at any magnitude
    "x_text_pack" ->
      s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard, CAST(len($toksSql) AS BIGINT) AS token_count FROM documents),
         |w AS (SELECT *, sum(token_count) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - token_count AS st FROM t)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, token_count,
         |       CAST(st // 256 AS BIGINT) AS pack_id,
         |       CAST(st % 256 AS BIGINT) AS pack_offset
         |FROM w""".stripMargin,

    // vocab: distinct output tokens, dense rank in binary-UTF-8 order
    "x_text_bpe_vocab" ->
      s"""WITH $bpeStreamCtes
         |SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
         |FROM (SELECT DISTINCT token FROM s)""".stripMargin,

    // id stream: the token stream joined to the vocab assignment
    "x_text_bpe_ids" ->
      s"""WITH $bpeStreamCtes,
         |v AS (SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
         |      FROM (SELECT DISTINCT token FROM s))
         |SELECT s.doc_id, s.pos, v.token_id FROM s JOIN v USING (token)""".stripMargin,

    "x_text_domains" ->
      """WITH p AS (SELECT doc_id,
        |    text || ' see https://site' || (doc_id % 7) || '.example.com/page' || doc_id ||
        |    ' and http://cdn' || (doc_id % 3) || '.example.org/x' || (doc_id % 5) AS text
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url FROM p),
        |d AS (SELECT doc_id, lower(regexp_extract(url, 'https?://([^/\s]+)', 1)) AS domain FROM u)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM d GROUP BY 1""".stripMargin,

    "x_text_blockfilter" ->
      """WITH p AS (SELECT doc_id, lang, source,
        |    text || ' see https://site' || (doc_id % 7) || '.example.com/page' || doc_id ||
        |    ' and http://cdn' || (doc_id % 3) || '.example.org/x' || (doc_id % 5) AS text
        |  FROM documents),
        |d AS (SELECT doc_id, lang, source,
        |    list_transform(regexp_extract_all(text, 'https?://[^\s]+'),
        |                   u -> lower(regexp_extract(u, 'https?://([^/\s]+)', 1))) AS doms
        |  FROM p)
        |SELECT doc_id, lang, source FROM d
        |WHERE len(list_filter(doms, x -> list_contains(['site3.example.com', 'cdn1.example.org'], x))) = 0""".stripMargin,

    // suffix blocklist: expand every URL domain to its dot-suffix list
    // (1-based list slicing from label i+1 to end) and keep docs whose
    // suffixes never hit the blocklist
    "x_text_blocksuffix" ->
      """WITH p AS (SELECT doc_id, lang, source,
        |    text || ' https://sub' || (doc_id % 4) || '.news' || (doc_id % 7) || '.example.com/p' || doc_id ||
        |    ' http://ads' || (doc_id % 3) || '.tracker' || (doc_id % 5) || '.example.org/b' AS text
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url FROM p),
        |d AS (SELECT doc_id, lower(regexp_extract(url, 'https?://([^/\s]+)', 1)) AS domain FROM u),
        |sfx AS (SELECT doc_id, unnest(list_transform(range(len(string_split(domain, '.'))),
        |          i -> array_to_string(string_split(domain, '.')[i+1:], '.'))) AS suffix FROM d),
        |blocked AS (SELECT DISTINCT doc_id FROM sfx
        |  WHERE suffix IN ('news2.example.com', 'tracker3.example.org', 'unused.example.net'))
        |SELECT doc_id, lang, source FROM p WHERE doc_id NOT IN (SELECT doc_id FROM blocked)""".stripMargin,

    // blocklist hygiene: LEFT join from the entry list so dead entries
    // zero-fill; count(col) skips the unmatched nulls
    "x_text_blocksuffix_audit" ->
      """WITH p AS (SELECT doc_id,
        |    text || ' https://sub' || (doc_id % 4) || '.news' || (doc_id % 7) || '.example.com/p' || doc_id ||
        |    ' http://ads' || (doc_id % 3) || '.tracker' || (doc_id % 5) || '.example.org/b' AS text
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url FROM p),
        |d AS (SELECT doc_id, lower(regexp_extract(url, 'https?://([^/\s]+)', 1)) AS domain FROM u),
        |sfx AS (SELECT doc_id, unnest(list_transform(range(len(string_split(domain, '.'))),
        |          i -> array_to_string(string_split(domain, '.')[i+1:], '.'))) AS suffix FROM d),
        |b AS (SELECT * FROM (VALUES ('news2.example.com'), ('tracker3.example.org'),
        |                            ('unused.example.net')) AS t(domain))
        |SELECT b.domain, CAST(count(sfx.doc_id) AS BIGINT) AS n_urls,
        |       CAST(count(DISTINCT sfx.doc_id) AS BIGINT) AS n_docs
        |FROM b LEFT JOIN sfx ON sfx.suffix = b.domain GROUP BY 1""".stripMargin,

    // corpus-wide first-occurrence line dedup: keeper = min (doc_id,
    // line position) per distinct non-blank line (window mirror of the
    // Spark struct-min aggregate); blank lines always survive
    "x_text_linededup" ->
      """WITH d AS (SELECT doc_id, replace(text, ' ', chr(10)) AS t FROM documents),
        |a AS (SELECT doc_id, t, string_split(t, chr(10)) AS arr FROM d),
        |l0 AS (SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS i FROM a),
        |l AS (SELECT doc_id, CAST(i - 1 AS INT) AS line_no, arr[i] AS line FROM l0),
        |nb AS (SELECT doc_id, line_no, line,
        |         row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rk
        |       FROM l WHERE trim(line) <> ''),
        |kept AS (SELECT doc_id, line_no, line FROM nb WHERE rk = 1
        |         UNION ALL SELECT doc_id, line_no, line FROM l WHERE trim(line) = ''),
        |r AS (SELECT doc_id, count(*) AS n_kept,
        |             string_agg(line, chr(10) ORDER BY line_no) AS clean_text
        |      FROM kept GROUP BY doc_id)
        |SELECT a.doc_id,
        |       CAST(coalesce(len(a.arr), 0) AS BIGINT) AS n_lines,
        |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(r.clean_text, '') AS clean_text
        |FROM a LEFT JOIN r USING (doc_id)""".stripMargin,

    // same windowed-pair construction (1-based positions), same count
    // ratios with the identical double association; lift on the 6-dp
    // half-up grid, ordered by the unrounded value then the pair
    "x_text_pmi" ->
      """WITH a AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS arr
        |           FROM documents WHERE trim(text) <> ''),
        |i0 AS (SELECT doc_id, arr, unnest(range(1, len(arr))) AS i FROM a WHERE len(arr) >= 2),
        |pr0 AS (SELECT doc_id, arr, i, unnest(range(1, least(2, len(arr) - i) + 1)) AS d FROM i0),
        |pr AS (SELECT least(arr[i], arr[i + d]) AS term_a, greatest(arr[i], arr[i + d]) AS term_b FROM pr0),
        |pc AS (SELECT term_a, term_b, CAST(count(*) AS BIGINT) AS pair_count FROM pr GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(pair_count) AS BIGINT) AS p_total FROM pc),
        |uni AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS c
        |        FROM (SELECT unnest(arr) AS t FROM a) GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni),
        |s AS (SELECT term_a, term_b, pair_count,
        |             CAST(pair_count AS DOUBLE) * n_tokens * n_tokens /
        |               (CAST(p_total AS DOUBLE) * ua.c * ub.c) AS lift
        |      FROM pc JOIN uni ua ON pc.term_a = ua.term
        |              JOIN uni ub ON pc.term_b = ub.term, tot, n
        |      WHERE pair_count >= 5)
        |SELECT term_a, term_b, pair_count,
        |       floor(lift * 1000000 + 0.5) / 1000000 AS lift
        |FROM s ORDER BY s.lift DESC, term_a, term_b LIMIT 25""".stripMargin,

    // same line synthesis; boilerplate = line in >= 3 distinct docs of
    // the same source, ALL occurrences stripped, blanks exempt
    "x_text_boilerplate" ->
      """WITH d AS (SELECT doc_id, source, replace(text, ' ', chr(10)) AS t FROM documents),
        |a AS (SELECT doc_id, source, t, string_split(t, chr(10)) AS arr FROM d),
        |l0 AS (SELECT doc_id, source, arr, unnest(range(1, len(arr) + 1)) AS i FROM a),
        |l AS (SELECT doc_id, source, CAST(i - 1 AS INT) AS line_no, arr[i] AS line FROM l0),
        |bp AS (SELECT source, line FROM l WHERE trim(line) <> ''
        |       GROUP BY source, line HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (SELECT l.doc_id, l.line_no, l.line FROM l
        |         LEFT JOIN bp ON l.source = bp.source AND l.line = bp.line
        |         WHERE bp.line IS NULL),
        |r AS (SELECT doc_id, count(*) AS n_kept,
        |             string_agg(line, chr(10) ORDER BY line_no) AS clean_text
        |      FROM kept GROUP BY doc_id)
        |SELECT a.doc_id,
        |       CAST(coalesce(len(a.arr), 0) AS BIGINT) AS n_lines,
        |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(r.clean_text, '') AS clean_text
        |FROM a LEFT JOIN r USING (doc_id)""".stripMargin,

    // identical regex chain (global flags where Spark replaces all),
    // identical URL synthesis
    "x_text_urlcanon" -> {
      val tp = TextAnalysis.TrackingParamPattern
      s"""WITH p AS (SELECT doc_id,
         |    text || ' https://News' || (doc_id % 7) || '.Example.com/Article' || doc_id ||
         |    '?utm_source=feed' || (doc_id % 3) || '&id=' || (doc_id % 5) ||
         |    '&utm_campaign=w' || (doc_id % 4) || '#sec' || (doc_id % 3) ||
         |    ' http://cdn' || (doc_id % 3) || '.example.org/x' || (doc_id % 5) ||
         |    '?gclid=g' || doc_id || '&page=2' AS text
         |  FROM documents),
         |u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\\s]+')) AS url FROM p),
         |c0 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u FROM u),
         |c1 AS (SELECT doc_id, regexp_replace(u, '&$tp=[^&#]*', '', 'g') AS u FROM c0),
         |c2 AS (SELECT doc_id, regexp_replace(u, '\\?$tp=[^&#]*&', '?') AS u FROM c1),
         |c3 AS (SELECT doc_id, regexp_replace(u, '[?&]$tp=[^&#]*$$', '') AS u FROM c2),
         |c4 AS (SELECT doc_id, regexp_replace(u, '[?&]+$$', '') AS u FROM c3),
         |k AS (SELECT doc_id,
         |        CASE WHEN regexp_extract(u, '^(https?://[^/?#]*)', 1) = '' THEN u
         |             ELSE lower(regexp_extract(u, '^(https?://[^/?#]*)', 1)) ||
         |                  regexp_replace(u, '^https?://[^/?#]*', '')
         |        END AS canon_url
         |      FROM c4)
         |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_urls,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM k GROUP BY 1""".stripMargin
    },

    // identical synthesis (chr() for each planted codepoint), identical
    // normalization chain; DuckDB's nfc_normalize and the JDK
    // Normalizer both implement UAX#15 NFC
    "x_text_normalize" ->
      """WITH p AS (SELECT doc_id,
        |    text || ' cafe' || chr(769) || chr(8203) || ' zw' || chr(7) ||
        |    'ctl' || chr(13) || chr(10) || 'nl' AS text
        |  FROM documents),
        |n AS (SELECT doc_id, text,
        |    regexp_replace(regexp_replace(
        |      nfc_normalize(regexp_replace(text, '\r\n|\r', chr(10), 'g')),
        |      '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
        |      '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g') AS norm_text
        |  FROM p)
        |SELECT doc_id, norm_text,
        |       CAST(length(text) - length(norm_text) AS BIGINT) AS n_chars_removed
        |FROM n""".stripMargin,

    // same start grid (multiples of step below the token count) and the
    // same clamped slice arithmetic
    "x_text_chunks" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS st FROM d WHERE len(toks) > 0)
         |SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_index,
         |       CAST(least(32, len(toks) - st) AS BIGINT) AS n_tokens,
         |       array_to_string(toks[st + 1:st + 32], ' ') AS chunk_text
         |FROM s""".stripMargin,

    // identical driver arithmetic: Z is a SORTED left-assoc fold
    // (list_reduce over list(... ORDER BY source) == Scala foldLeft
    // over the sorted collect), rate = floor(min(1, B*T^a/Z/T)*1e6+.5)/1e6
    // packing-efficiency: the x_text_pack CTE + one integer aggregate;
    // crossings = boundaries a doc's body spans inside its start pack
    "x_text_packeff" ->
      s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard, CAST(len($toksSql) AS BIGINT) AS token_count FROM documents),
         |w AS (SELECT *, sum(token_count) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - token_count AS st FROM t),
         |p AS (SELECT shard, token_count, st % 256 AS pack_offset FROM w),
         |g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(token_count) AS BIGINT) AS n_tokens,
         |        CAST(sum(CASE WHEN token_count > 0 THEN (pack_offset + token_count - 1) // 256 ELSE 0 END) AS BIGINT) AS n_crossings
         |      FROM p GROUP BY shard)
         |SELECT CAST(shard AS BIGINT) AS shard, n_docs, n_tokens,
         |       CAST(CASE WHEN n_tokens > 0 THEN (n_tokens - 1) // 256 + 1 ELSE 0 END AS BIGINT) AS n_packs,
         |       CAST((CASE WHEN n_tokens > 0 THEN (n_tokens - 1) // 256 + 1 ELSE 0 END) * 256 - n_tokens AS BIGINT) AS tail_waste,
         |       n_crossings
         |FROM g""".stripMargin,

    // bucketed batching: pure integer banding + a (shard, band)
    // row_number — no float anywhere
    "x_text_batches" ->
      s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard, CAST(len($toksSql) AS BIGINT) AS token_count FROM documents),
         |b AS (SELECT *, greatest(CAST(32 AS BIGINT), ((token_count + 31) // 32) * 32) AS padded_to FROM t),
         |d AS (SELECT *, greatest(CAST(1 AS BIGINT), 256 // padded_to) AS dpb,
         |        row_number() OVER (PARTITION BY shard, padded_to ORDER BY doc_id) AS rn FROM b)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, token_count, padded_to,
         |       CAST((rn - 1) // dpb AS BIGINT) AS batch_id
         |FROM d""".stripMargin,

    // batch audit: the batches CTE + distinct (band, batch) count and
    // integer padding sums per shard
    "x_text_batcheff" ->
      s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard, CAST(len($toksSql) AS BIGINT) AS token_count FROM documents),
         |b AS (SELECT *, greatest(CAST(32 AS BIGINT), ((token_count + 31) // 32) * 32) AS padded_to FROM t),
         |d AS (SELECT *, greatest(CAST(1 AS BIGINT), 256 // padded_to) AS dpb,
         |        row_number() OVER (PARTITION BY shard, padded_to ORDER BY doc_id) AS rn FROM b),
         |a AS (SELECT shard, token_count, padded_to, (rn - 1) // dpb AS batch_id FROM d),
         |nb AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_batches FROM
         |         (SELECT DISTINCT shard, padded_to, batch_id FROM a) GROUP BY shard)
         |SELECT CAST(a.shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(token_count) AS BIGINT) AS n_tokens,
         |       CAST(any_value(nb.n_batches) AS BIGINT) AS n_batches,
         |       CAST(sum(padded_to) AS BIGINT) AS padded_tokens,
         |       CAST(sum(padded_to) - sum(token_count) AS BIGINT) AS waste_tokens
         |FROM a JOIN nb ON a.shard = nb.shard
         |GROUP BY a.shard""".stripMargin,

    // tokenizer round-trip: decode the id stream through the reversed
    // vocab (ids join vocab twice — forward to make ids, backward to
    // decode), gather per doc in position order, compare against the
    // whitespace-stripped normalized input
    "x_text_bpe_decode" ->
      s"""WITH $bpeStreamCtes,
         |v AS (SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
         |      FROM (SELECT DISTINCT token FROM s)),
         |i AS (SELECT s.doc_id, s.pos, v.token_id FROM s JOIN v USING (token)),
         |r AS (SELECT i.doc_id, string_agg(v2.token, '' ORDER BY i.pos) AS dec,
         |        CAST(count(*) AS BIGINT) AS nt
         |      FROM i JOIN v v2 USING (token_id) GROUP BY 1),
         |base AS (SELECT doc_id, CAST(source AS VARCHAR) AS slice,
         |           regexp_replace(lower(replace(text, '|', '')), '\\s+', '', 'g') AS ref
         |         FROM documents)
         |SELECT slice, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN coalesce(r.dec, '') = base.ref THEN 1 ELSE 0 END) AS BIGINT) AS n_lossless,
         |       CAST(sum(coalesce(r.nt, 0)) AS BIGINT) AS n_tokens,
         |       CAST(sum(length(base.ref)) AS BIGINT) AS n_chars
         |FROM base LEFT JOIN r USING (doc_id) GROUP BY 1""".stripMargin,

    // slice entropy: per-type -p·ln(p) micro terms (the PSI ln recipe)
    // summed as exact longs per slice
    "x_text_entropy" ->
      s"""WITH t AS (SELECT CAST(source AS VARCHAR) AS slice, unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT slice, tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
         |n AS (SELECT slice, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
         |m AS (SELECT c.slice, c.c,
         |        CAST(floor(-((CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE)) * ln(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS hm
         |      FROM c JOIN n USING (slice)),
         |g AS (SELECT slice, CAST(sum(c) AS BIGINT) AS n_tokens,
         |        CAST(count(*) AS BIGINT) AS n_types, CAST(sum(hm) AS BIGINT) AS h
         |      FROM m GROUP BY 1)
         |SELECT slice, n_tokens, n_types,
         |       CAST(h AS DOUBLE) / 1000000.0 AS entropy,
         |       ${Rounding.halfUpSql(
                   "(CAST(h AS DOUBLE) / 1000000.0) / (CASE WHEN n_types > 1 THEN ln(CAST(n_types AS DOUBLE)) END)", 6)} AS entropy_norm
         |FROM g""".stripMargin,

    // pairwise JS divergence: nano-rounded per-shared-token terms
    // summed as longs; exclusive-mass tail = ln(2) correction from
    // exact counts in one fixed expression (identical tree both sides)
    "x_text_js" ->
      s"""WITH t AS (SELECT CAST(source AS VARCHAR) AS slice, unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT slice, tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
         |n AS (SELECT slice, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
         |j AS (SELECT a.slice AS slice_a, b.slice AS slice_b, a.c AS ca, b.c AS cb, na.n AS na, nb.n AS nb
         |      FROM c a JOIN c b ON a.tok = b.tok AND a.slice < b.slice
         |      JOIN n na ON na.slice = a.slice JOIN n nb ON nb.slice = b.slice),
         |m AS (SELECT slice_a, slice_b, ca, cb, na, nb,
         |        CAST(floor((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) * ln(2.0 * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))
         |              + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) * ln(2.0 * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))) * 1.0E9 + 0.5) AS BIGINT) AS tn
         |      FROM j),
         |g AS (SELECT slice_a, slice_b, CAST(count(*) AS BIGINT) AS n_shared_types,
         |        CAST(sum(tn) AS BIGINT) AS t, CAST(sum(ca) AS BIGINT) AS sa,
         |        CAST(sum(cb) AS BIGINT) AS sb, max(na) AS na, max(nb) AS nb
         |      FROM m GROUP BY 1, 2)
         |SELECT slice_a, slice_b, n_shared_types,
         |       ${Rounding.halfUpSql(
                   "(CAST(t AS DOUBLE) / 1.0E9 + ln(2.0) * (CAST(na - sa AS DOUBLE) / CAST(na AS DOUBLE) + CAST(nb - sb AS DOUBLE) / CAST(nb AS DOUBLE))) / 2.0", 6)} AS js
         |FROM g""".stripMargin,

    // C4 line filters over the planted web-ish view: the same
    // boilerplate plants, line split, word floor + terminal rule
    "x_text_c4filters" ->
      s"""WITH p AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN text || ' { x } '
         |       WHEN doc_id % 7 = 1 THEN 'Lorem ipsum dolor sit amet. ' || text
         |       WHEN doc_id % 7 = 2 THEN 'This site uses cookies per our privacy policy. ' || text
         |       WHEN doc_id % 7 = 3 THEN 'The first line is a clean sentence.' || chr(10) || text || '.' || chr(10) || 'The third line is a clean sentence too.' || chr(10) || 'short line.'
         |       WHEN doc_id % 7 = 4 THEN text || '.'
         |       ELSE text END AS text
         |  FROM documents),
         |f AS (SELECT doc_id, text, str_split(text, chr(10)) AS lines FROM p),
         |k AS (SELECT doc_id, text, CAST(len(lines) AS BIGINT) AS n_lines,
         |        CAST(len(list_filter(lines,
         |          l -> len(regexp_split_to_array(trim(l), '\\s+')) >= 5
         |            AND ${c4TerminalSql("trim(l)")})) AS BIGINT) AS n_kept_lines
         |      FROM f),
         |flags AS (SELECT doc_id, n_lines, n_kept_lines,
         |    (contains(text, '{') OR contains(text, '}')) AS has_brace,
         |    contains(lower(text), 'lorem ipsum') AS has_lorem,
         |    (contains(lower(text), 'uses cookies') OR contains(lower(text), 'privacy policy')
         |      OR contains(lower(text), 'terms of use') OR contains(lower(text), 'cookie policy')) AS has_policy
         |  FROM k)
         |SELECT doc_id, has_brace, has_lorem, has_policy, n_lines, n_kept_lines,
         |  CAST(CASE WHEN n_lines > 0
         |        THEN floor(CAST(n_kept_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) * 1000000.0 + 0.5)
         |        ELSE 0 END AS BIGINT) AS kept_ratio_micro,
         |  (NOT has_brace AND NOT has_lorem AND NOT has_policy AND n_kept_lines >= 2) AS keep
         |FROM flags""".stripMargin,

    // template prefixes over the planted mailer view: exact shares of
    // shared 24-char prefixes per source past the df floor
    "x_text_templates" ->
      """WITH p AS (SELECT source AS slice,
        |    substr(CASE WHEN doc_id % 3 = 0
        |           THEN 'Subscribe to our newsletter today! ' || text
        |           ELSE text END, 1, 24) AS prefix
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
        |c AS (SELECT slice, prefix, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
        |t AS (SELECT slice, CAST(count(*) AS BIGINT) AS slice_total FROM p GROUP BY 1)
        |SELECT c.slice, c.prefix, c.n, t.slice_total,
        |       CAST((c.n * 1000000) // t.slice_total AS BIGINT) AS share_micro
        |FROM c JOIN t USING (slice) WHERE c.n >= 2""".stripMargin,
  )
}
