package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (SURVEY.md §7.4):
  * tokenization, language-ID heuristic, quality scoring, document
  * fingerprinting. Charter extensions beyond the reference surface
  * (BASELINE.json north_star).
  *
  * Everything is built from codegen'd `functions._` expressions
  * (split / higher-order array functions / xxhash64) — no UDFs, so the
  * whole stage stays in WholeStageCodegen and distributes trivially:
  * every operator here is a narrow map over the documents table.
  */
object TextAnalysis {

  /** Whitespace tokenization of trimmed, lowercased text; empty text →
    * empty array (split("") would yield [""]).
    */
  def tokens(text: Column): Column =
    when(trim(text) === "", array().cast("array<string>"))
      .otherwise(split(lower(trim(text)), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-style pre-tokenizer pattern (simplified): contraction tails,
    * space-prefixed letter runs, digit runs, punctuation runs, then
    * whitespace runs. Deliberately restricted to syntax Java regex and
    * RE2 share (no backrefs/lookarounds; \p{L}/\p{N} classes) so the
    * DuckDB oracle tokenizes identically. This is how LLM pipelines
    * estimate token budgets without shipping a tokenizer model.
    */
  val BpeishPattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** (doc_id, token_count, char_count) per document. */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      graft.ops.Cleaning.qcol(idCol),
      tokenCount(graft.ops.Cleaning.qcol(textCol)).cast("long").as("token_count"),
      length(graft.ops.Cleaning.qcol(textCol)).cast("long").as("char_count"))

  /** Token-budget estimate per document: whitespace words plus the
    * BPE-ish subword-unit count (always ≥ the word count). */
  def tokenBudget(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      graft.ops.Cleaning.qcol(idCol),
      tokenCount(graft.ops.Cleaning.qcol(textCol)).cast("long").as("ws_tokens"),
      bpeishTokenCount(graft.ops.Cleaning.qcol(textCol)).cast("long").as("bpeish_tokens"))

  /** Context-window fit audit — what a candidate `max_seq_len` costs:
    * for each context length, how many docs fit whole and how many
    * tokens a truncate-to-fit pass would keep vs throw away. The
    * one-aggregate answer to "do we train at 2k, 8k or 32k", run
    * BEFORE [[graft.scale.Conversations.truncateToBudget]] /
    * packing commits to a length. Null/empty text counts 0 tokens
    * (fits everything) so the audit is total over the corpus.
    *
    * Output: one row per context length (context_len, n_docs, n_fit,
    * fit_micro = n_fit·1e6 div n_docs, tokens_total, tokens_kept =
    * Σ min(tokens, L), tokens_lost) — integer micro, NULL fit_micro
    * on an empty corpus.
    *
    * Scale: ONE narrow corpus scan into ONE 1-row hash aggregate
    * (2·|contexts|+2 conditional sums, codegen'd); the per-context
    * melt explodes the single aggregate row, never the corpus.
    */
  def contextFitAudit(
      df: DataFrame, textCol: String, contexts: Seq[Int]): DataFrame = {
    require(contexts.nonEmpty, "contextFitAudit: need at least one context length")
    require(contexts.forall(_ > 0), "contextFitAudit: context lengths must be positive")
    require(contexts.distinct.size == contexts.size,
      "contextFitAudit: context lengths must be distinct")
    val nt = coalesce(
      tokenCount(graft.ops.Cleaning.qcol(textCol)).cast("long"), lit(0L))
    val base = df.select(nt.as("__nt"))
    val perContext = contexts.flatMap { len =>
      Seq(
        coalesce(sum(when(col("__nt") <= len.toLong, 1L)), lit(0L)).as(s"__fit_$len"),
        coalesce(sum(least(col("__nt"), lit(len.toLong))), lit(0L)).as(s"__kept_$len"))
    }
    val totals = base.agg(
      count(lit(1)).as("__n"),
      (coalesce(sum(col("__nt")), lit(0L)).as("__tot") +: perContext): _*)
    val melted = totals.select(
      col("__n"), col("__tot"),
      explode(array(contexts.map { len =>
        struct(lit(len.toLong).as("context_len"),
          col(s"__fit_$len").as("n_fit"),
          col(s"__kept_$len").as("tokens_kept"))
      }: _*)).as("__c"))
    melted.select(
      col("__c.context_len").as("context_len"),
      col("__n").as("n_docs"),
      col("__c.n_fit").as("n_fit"),
      when(col("__n") > 0L, expr("(__c.n_fit * 1000000L) div __n")).as("fit_micro"),
      col("__tot").as("tokens_total"),
      col("__c.tokens_kept").as("tokens_kept"),
      (col("__tot") - col("__c.tokens_kept")).as("tokens_lost"))
  }

  // Tiny per-language stopword lists for the n-gram/keyword heuristic.
  // Deliberately simple & fixed so the DuckDB oracle can reproduce them.
  val StopwordLists: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es", "una"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "une", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Per-language stopword-hit score: number of tokens present in the
    * language's list (token-exact, not substring).
    */
  def langScore(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), t => array_contains(lit(stopwords.toArray), t)))

  /** Language-ID heuristic: argmax of stopword-hit scores with a
    * deterministic tie-break (list order above, i.e. alphabetical);
    * zero hits everywhere → "und" (undetermined).
    */
  def langId(text: Column): Column = langIdFromToks(tokens(text))

  /** [[langId]] over a PRE-TOKENIZED column — the shared form for
    * callers that already hold the token array ([[corpusReport]]'s
    * tokenize-once pass); changing the vote here changes every caller
    * together (round-14 advice: no silently diverging inline copies). */
  def langIdFromToks(toks: Column): Column =
    // coalesce: null text classifies as "und" (the pre-native behavior),
    // not null — LangPredict is a UnaryExpression and null-propagates
    coalesce(
      graft.functions.Native.langPredict(toks,
        StopwordLists.map(_._1), StopwordLists.map(_._2)),
      lit("und"))

  /** Language-ID table: (doc_id, lang, pred_lang) + per-language scores. */
  def langIdTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = graft.ops.Cleaning.qcol(textCol)
    val scoreCols = StopwordLists.map { case (lang, words) =>
      langScore(t, words).cast("long").as(s"score_$lang")
    }
    df.select((graft.ops.Cleaning.qcol(idCol) +: langId(t).as("pred_lang") +: scoreCols): _*)
  }

  /** Vocabulary coverage curve — the "how big must the vocab be?"
    * audit that sizes a tokenizer before anyone trains one: for each
    * candidate size k, what fraction of the corpus's token mass the
    * top-k tokens (count desc, token asc — the deterministic vocab
    * election every scorer here uses) would cover. OOV rate at size k
    * is 1 − coverage(k); the curve's knee is the economic vocab size.
    *
    * Scale: one explode + token hash-aggregate (vocab-sized), a
    * TakeOrdered max(k) head — a bounded top-N heap, never a sort of
    * the full vocabulary — and a cumulative window over that BOUNDED
    * frame; the k probes join against ≤ max(k) rows. Counts are exact
    * longs; coverage is one double division, halfUp 6.
    */
  def vocabCoverage(
      df: DataFrame, textCol: String, ks: Seq[Int] = Seq(100, 1000, 10000)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ks.nonEmpty && ks.forall(_ > 0), s"ks must be positive, got $ks")
    // the head is a bounded TakeOrdered + a window over max(k) rows —
    // enforce the bound statically on the caller's literal
    require(ks.max <= 10000000,
      s"vocabCoverage: max k=${ks.max} exceeds the 1e7 summary-window bound")
    val counts = df
      .select(explode(tokens(graft.ops.Cleaning.qcol(textCol))).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__cnt"))
    val total = counts.agg(coalesce(sum(col("__cnt")), lit(0L)).as("__total"))
    val top = counts.orderBy(desc("__cnt"), asc("__t")).limit(ks.max)
    val w = Window.orderBy(desc("__cnt"), asc("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = top
      .withColumn("__rk", row_number().over(
        Window.orderBy(desc("__cnt"), asc("__t"))).cast("long"))
      .withColumn("__cum", sum(col("__cnt")).over(w))
    val spark = df.sparkSession
    import spark.implicits._
    ks.sorted.map(_.toLong).toDF("k")
      .join(ranked, col("__rk") <= col("k"))
      .groupBy(col("k"))
      .agg(max(col("__cum")).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("covered_tokens"),
        graft.ops.Rounding.halfUp(
          col("covered_tokens").cast("double") / col("__total"), 6).as("coverage"))
  }

  /** Language-ID confusion matrix vs a ground-truth column — the
    * classifier audit that decides whether the heuristic is good
    * enough to route on: one row per (true lang, predicted lang) with
    * the document count. Off-diagonal mass shows WHICH languages
    * confuse (not just an accuracy scalar), and the `und` column shows
    * where the stopword lists have no coverage. One narrow prediction
    * pass + a |langs|²-group aggregate.
    */
  def langIdConfusion(
      df: DataFrame, idCol: String, textCol: String, langCol: String): DataFrame =
    df.select(
        coalesce(graft.ops.Cleaning.qcol(langCol).cast("string"), lit("")).as("lang"),
        langId(graft.ops.Cleaning.qcol(textCol)).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** The quality keep-predicate as a standalone row-local expression
    * (shared by `qualityTable` and `cleanCorpus`). */
  def qualityKeep(t: Column): Column = qualityKeepFromCount(t, tokenCount(t))

  /** [[qualityKeep]] over a PRE-TOKENIZED column (size(toks) IS
    * tokenCount — the native counter and the array length agree by
    * construction): the shared form for tokenize-once callers like
    * [[corpusReport]], so the thresholds live in exactly one place
    * (round-14 advice). */
  def qualityKeepFromToks(t: Column, toks: Column): Column =
    qualityKeepFromCount(t, size(toks))

  /** The one copy of the keep thresholds and the punctuation regex. */
  private def qualityKeepFromCount(t: Column, nToks: Column): Column = {
    val chars = length(t)
    val nonPunct = length(regexp_replace(t, "[^A-Za-z0-9\\s]", ""))
    nToks >= 5 && nToks <= 100000 &&
      ((chars - nonPunct) / when(chars > 0, chars)) < lit(0.3)
  }

  /** Quality metrics per document — length, punctuation/digit/whitespace
    * ratios, English-stopword ratio, and a boolean keep-flag with fixed
    * thresholds. All ratios are exact-integer divisions (deterministic
    * across engines).
    */
  def qualityTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = graft.ops.Cleaning.qcol(textCol)
    val chars = length(t)
    val nonPunct = length(regexp_replace(t, "[^A-Za-z0-9\\s]", ""))
    val digits = chars - length(regexp_replace(t, "[0-9]", ""))
    val toks = tokenCount(t)
    val stopHits = langScore(t, StopwordLists.toMap.apply("en"))
    val safeChars = when(chars > 0, chars)
    val safeToks = when(toks > 0, toks)
    df.select(
      graft.ops.Cleaning.qcol(idCol),
      chars.cast("long").as("char_count"),
      toks.cast("long").as("token_count"),
      ((chars - nonPunct) / safeChars).as("punct_ratio"),
      (digits / safeChars).as("digit_ratio"),
      (stopHits / safeToks).as("stopword_ratio"),
      qualityKeep(t).as("keep"))
  }

  /** The Gopher quality rules (Rae et al. 2021, §A1.1 — the filter set
    * most later corpora inherit), per document: word count in
    * [50, 100000], mean word length in [3, 10], symbol-to-word ratio
    * (# and ellipsis) ≤ 0.1, ≥ 80% of words contain an alphabetic
    * character, and ≥ 2 distinct hits from the canonical 8-stopword
    * list. Emits every per-rule measurement plus the conjunction
    * (`keep`) so a pipeline can audit WHICH rule fired, not just the
    * verdict. Ratios are raw IEEE divisions of exact integer counts
    * (the [[qualityTable]] convention); null/zero-token docs emit null
    * ratios and keep = false.
    *
    * Scale: entirely row-local (one narrow codegen'd pass, no shuffle,
    * no state) — the cheapest filter in the stack, which is why
    * production pipelines run it FIRST, ahead of anything keyed.
    */
  def gopherRulesTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(graft.ops.Cleaning.qcol(textCol), lit(""))
    val toks = tokens(t)
    val n = size(toks)
    val safeN = when(n > 0, n.cast("double"))
    val totalChars = aggregate(transform(toks, x => length(x)),
      lit(0L), (acc, c) => acc + c)
    val meanLen = totalChars / safeN
    val symbols = (size(split(t, "#", -1)) - 1) + (size(split(t, "\\.\\.\\.", -1)) - 1)
    val symbolRatio = symbols.cast("double") / safeN
    val alphaWords = size(filter(toks, x => x.rlike("[A-Za-z]")))
    val alphaFrac = alphaWords.cast("double") / safeN
    val stops = array(GopherStopwords.map(lit): _*)
    val stopHits = size(array_intersect(toks, stops))
    df.select(
      graft.ops.Cleaning.qcol(idCol),
      n.cast("long").as("n_words"),
      meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      alphaFrac.as("alpha_word_frac"),
      stopHits.cast("long").as("n_stop_hits"),
      (n >= 50 && n <= 100000 &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        symbolRatio <= 0.1 &&
        alphaFrac >= 0.8 &&
        stopHits >= 2).as("keep"))
  }

  /** Readability scoring (Flesch 1948 / Kincaid 1975) — the classic
    * prose-complexity signal corpus teams bucket on alongside the LM
    * scorers ([[unigramLogProbTable]]): very high reading-ease flags
    * listicle/SEO filler, very low flags OCR soup and code mistagged as
    * prose. Per document:
    *
    *   - `n_sentences` — non-empty segments split on `[.!?]+` runs;
    *   - `n_words`     — [[tokens]] count (whitespace tokens,
    *                     matching every other scorer here);
    *   - `n_syllables` — Σ per word of max(1, vowel-group count
    *                     `[aeiouy]+`) — the standard portable
    *                     heuristic (true syllabification is
    *                     dictionary-bound; the vowel-group count is
    *                     what every published reimplementation uses,
    *                     and a filter only needs rank stability);
    *   - `flesch`      — 206.835 − 1.015·(W/S) − 84.6·(Sy/W);
    *   - `fk_grade`    — 0.39·(W/S) + 11.8·(Sy/W) − 15.59.
    *
    * Determinism: the counts are exact integers; each score is ONE
    * fixed left-associative chain of double literals over two IEEE
    * divisions, rounded half-up to 6 dp — identical arithmetic in any
    * engine, so the oracle replays it bit-exactly (the zscore/rounding
    * convention). Docs with zero words or zero sentences score null.
    *
    * Scale: entirely row-local — one narrow codegen'd projection, no
    * shuffle, no state; composes with [[qualityTable]]/
    * [[gopherRulesTable]] in the same scan.
    */
  def readabilityTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(graft.ops.Cleaning.qcol(textCol), lit(""))
    val toks = tokens(t)
    val sentences = size(filter(split(t, "[.!?]+", -1), x => trim(x) =!= ""))
    val words = size(toks)
    val syllables = aggregate(
      transform(toks, w =>
        greatest(lit(1), size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))))),
      lit(0L), (acc, c) => acc + c)
    val wps = words.cast("double") / when(sentences > 0, sentences)
    val spw = syllables.cast("double") / when(words > 0, words)
    df.select(
      graft.ops.Cleaning.qcol(idCol),
      sentences.cast("long").as("n_sentences"),
      words.cast("long").as("n_words"),
      syllables.cast("long").as("n_syllables"),
      graft.ops.Rounding.halfUp(
        lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6).as("flesch"),
      graft.ops.Rounding.halfUp(
        lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6).as("fk_grade"))
  }

  /** Span-corruption example builder — the T5/UL2 denoising objective's
    * data prep (Raffel et al. 2020 §3.1.4), in its deterministic
    * block variant: the token stream is cut into fixed `spanLen` chunks
    * and chunk j of document d is masked iff
    * `polyHash31(d + ":" + j) mod noiseDen < noiseNum` (defaults: 3/20
    * = 15% noise density at mean span length 3 — T5's published
    * settings). Masked chunks are replaced by consecutive `<extra_id_k>`
    * sentinels in `input`; `target` is the sentinel-delimited sequence
    * of the masked-out spans — exactly the (input, target) pair a
    * denoising trainer consumes. Hash-driven selection instead of RNG
    * keeps every example reproducible across runs, partitionings, and
    * engines (the oracle replays the same hash), which is what makes
    * corpus-scale regeneration and incremental re-runs safe.
    *
    * Output: (idCol, n_tokens, n_spans, n_masked_tokens, input,
    * target); empty docs emit zero counts and empty strings.
    *
    * Scale: explode to chunk rows (corpus × 1/spanLen), ONE
    * doc-partitioned window for the running sentinel index (bounded by
    * doc length — never a global sort), then a doc-keyed aggregate that
    * reuses the window's partitioning; assembly is sort-free
    * (array_sort over the collected chunk structs, each doc-sized).
    */
  def spanCorruptionTable(
      df: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 3, noiseNum: Int = 3, noiseDen: Int = 20): DataFrame = {
    require(spanLen >= 1, s"spanLen must be >= 1, got $spanLen")
    require(noiseNum > 0 && noiseNum < noiseDen,
      s"need 0 < noiseNum < noiseDen, got $noiseNum/$noiseDen")
    import org.apache.spark.sql.expressions.Window
    val id = graft.ops.Cleaning.qcol(idCol)
    val toks = tokens(coalesce(graft.ops.Cleaning.qcol(textCol), lit("")))
    val base = df.select(id.as("__id"), toks.as("__toks"),
      ceil(size(toks) / lit(spanLen.toDouble)).cast("int").as("__nc"))
    val chunks = base.filter(col("__nc") > 0)
      .select(col("__id"),
        explode(sequence(lit(0), col("__nc") - 1)).as("__j"),
        col("__toks"))
      .select(col("__id"), col("__j"),
        slice(col("__toks"), col("__j") * spanLen + 1, lit(spanLen)).as("__chunk"),
        (pmod(graft.functions.PortableHash.polyHash31(
          concat(col("__id").cast("string"), lit(":"), col("__j").cast("string"))),
          lit(noiseDen.toLong)) < noiseNum).as("__masked"))
    val w = Window.partitionBy("__id").orderBy("__j")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withK = chunks.withColumn("__k",
      coalesce(sum(when(col("__masked"), 1L).otherwise(0L)).over(w), lit(0L)))
    val sentinel = concat(lit("<extra_id_"), col("__k").cast("string"), lit(">"))
    val chunkStr = array_join(col("__chunk"), " ")
    val pieces = withK.select(col("__id"), col("__masked"),
      size(col("__chunk")).cast("long").as("__nch"),
      struct(col("__j"), when(col("__masked"), sentinel).otherwise(chunkStr).as("__p"))
        .as("__pi"),
      when(col("__masked"),
        struct(col("__j"), concat(sentinel, lit(" "), chunkStr).as("__p"))).as("__pt"))
    val agged = pieces.groupBy(col("__id")).agg(
      sum(when(col("__masked"), 1L).otherwise(0L)).as("n_spans"),
      sum(when(col("__masked"), col("__nch")).otherwise(0L)).as("n_masked_tokens"),
      array_join(transform(array_sort(collect_list(col("__pi"))), x => x("__p")), " ")
        .as("input"),
      array_join(transform(array_sort(collect_list(col("__pt"))), x => x("__p")), " ")
        .as("target"))
    base.select(col("__id").as(idCol), size(col("__toks")).cast("long").as("n_tokens"))
      .join(agged.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(graft.ops.Cleaning.qcol(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_masked_tokens"), lit(0L)).as("n_masked_tokens"),
        coalesce(col("input"), lit("")).as("input"),
        coalesce(col("target"), lit("")).as("target"))
  }

  /** Rae et al. 2021's canonical stopword set for the "≥ 2 distinct
    * stopwords" rule. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  // Deliberately simple patterns with no engine-specific syntax
  // (no backrefs/lookarounds) so Java regex (Spark) and RE2 (DuckDB)
  // agree — the redaction oracle depends on it.
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern = "https?://[^\\s]+"
  val PhonePattern = "\\+?[0-9][0-9()\\-\\. ]{7,}[0-9]"

  /** PII scrubbing for training-data pipelines: replace emails, URLs and
    * phone-like digit runs with typed placeholder tokens. Pure
    * `regexp_replace` chain — codegen'd, narrow, order: email → url →
    * phone (so addresses inside URLs are already gone before the digit
    * scrubber runs).
    */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val noUrl = regexp_replace(noEmail, UrlPattern, "<URL>")
    regexp_replace(noUrl, PhonePattern, "<PHONE>")
  }

  /** (id, clean_text, n_redactions) per document. */
  def redactTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = graft.ops.Cleaning.qcol(textCol)
    val clean = redactPii(t)
    df.select(
      graft.ops.Cleaning.qcol(idCol),
      clean.as("clean_text"),
      (size(split(clean, "<EMAIL>|<URL>|<PHONE>", -1)) - 1).cast("long").as("n_redactions"))
  }

  /** TF-IDF keyword extraction: the top-k characteristic tokens per doc.
    * tf = term count / doc length; idf = ln(N / docfreq); rank by
    * (tfidf desc, token asc). All inputs are exact integer counts so the
    * double arithmetic is engine-deterministic (oracle-able).
    *
    * Scale: the exploded token frame — the widest intermediate — is
    * aggregated ONCE (by (doc, token)); doc length is a window-SUM over
    * that already-aggregated tf frame, sharing the rank window's
    * doc-keyed exchange, so neither a second pass over the explode nor
    * a doc-keyed join exists (it did: a second full shuffle of the
    * token frame, the 4th-costliest bench query's avoidable half).
    * Remaining shuffles: tf agg, dfreq agg (small, token-keyed, joins
    * back AQE-broadcastable), the doc-keyed window exchange; N is a
    * broadcast 1-row aggregate. The doc window buffers one doc's
    * DISTINCT tokens — bounded by vocabulary, same as the rank window.
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(graft.ops.Cleaning.qcol(idCol), explode(tokens(graft.ops.Cleaning.qcol(textCol))).as("token"))
    val tf = toks.groupBy(graft.ops.Cleaning.qcol(idCol), col("token")).agg(count(lit(1)).as("tf_cnt"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val wDoc = Window.partitionBy(graft.ops.Cleaning.qcol(idCol))
    val scored = tf
      .join(dfreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("doc_len", sum(col("tf_cnt")).over(wDoc))
      .withColumn("tfidf",
        (col("tf_cnt") / col("doc_len")) * log(col("n_docs") / col("df")))
    val w = Window.partitionBy(graft.ops.Cleaning.qcol(idCol)).orderBy(desc("tfidf"), asc("token"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(graft.ops.Cleaning.qcol(idCol), col("token"), col("tfidf"), col("rank"))
  }

  /** Windowed co-occurrence pair mining with PMI-style scoring — the
    * collocation/phrase-discovery primitive (word2vec-era skipgram
    * counting): every unordered token pair within `window` positions is
    * counted, and pairs with at least `minCount` occurrences are ranked
    * by LIFT = p(a,b) / (p(a)·p(b)) with p(a,b) = pair_count/P (P =
    * total windowed pairs) and p(t) = token_count/N (N = total tokens).
    * PMI is ln(lift) — the lift itself is emitted because it is a pure
    * ratio of exact integer counts: rank-equivalent to PMI and
    * engine-deterministic with no transcendental in the output (the
    * scaled-long lesson of [[unigramLogProb]], solved by not taking the
    * log at all).
    *
    * Scale (100 TB): pair generation is a NARROW per-row array
    * transform — O(tokens × window) structs flattened in place, never a
    * positional self-join of the exploded token frame (which would
    * shuffle the corpus twice and blow up on long documents). The two
    * aggregates (pair counts, unigram counts) partial-aggregate
    * map-side; N and P are broadcast 1-row frames; the unigram joins
    * are token-keyed and AQE-broadcastable once `minCount` prunes the
    * tail. The final top-k is a single bounded sort.
    */
  def pmiPairs(
      df: DataFrame, idCol: String, textCol: String,
      window: Int = 2, minCount: Long = 5L, topK: Int = 25): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = tokens(graft.ops.Cleaning.qcol(textCol))
    // canonical (a <= b) pair structs for every (i, i+d), d <= window —
    // a native tight loop: the equivalent nested-HOF pipeline
    // (flatten/transform/least/greatest) is interpreted per emitted
    // struct and was measured 20x slower on this, the hot map of the
    // whole query (see Native.WindowedPairs)
    val pairsArr = graft.functions.Native.windowedPairs(toks, window)
    val prs = df.select(explode(pairsArr).as("p"))
      .select(col("p.a").as("term_a"), col("p.b").as("term_b"))
    val pc = prs.groupBy("term_a", "term_b").agg(count(lit(1)).as("pair_count"))
    val tot = pc.agg(sum(col("pair_count")).as("p_total"))
    val uni = df.select(explode(toks).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__c"))
    val n = uni.agg(sum(col("__c")).as("n_tokens"))
    val scored = pc
      .join(uni.select(col("__t").as("term_a"), col("__c").as("c_a")), "term_a")
      .join(uni.select(col("__t").as("term_b"), col("__c").as("c_b")), "term_b")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(n))
      .filter(col("pair_count") >= minCount)
      .withColumn("lift",
        col("pair_count").cast("double") * col("n_tokens") * col("n_tokens") /
          (col("p_total").cast("double") * col("c_a") * col("c_b")))
    scored.orderBy(desc("lift"), asc("term_a"), asc("term_b"))
      .limit(topK)
      .select(col("term_a"), col("term_b"), col("pair_count"),
        graft.ops.Rounding.halfUp(col("lift"), 6).as("lift"))
  }

  /** One term's BM25 contribution in half-up micro-units — the SINGLE
    * definition both retrieval forms ([[bm25TopK]], [[bm25TopKMany]])
    * and their oracles mirror; every factor must associate exactly as
    * the oracle SQL writes it (IEEE +,*,/ are deterministic given the
    * same association; ln() drift is absorbed by the 6-dp grid). */
  private def bm25Contrib(
      tf: Column, dfc: Column, dl: Column, nd: Column, tt: Column,
      k1: Double, b: Double): Column = {
    val idf = log(lit(1.0) +
      (nd.cast("double") - dfc.cast("double") + lit(0.5)) / (dfc.cast("double") + lit(0.5)))
    val tfn = (tf.cast("double") * lit(k1 + 1.0)) /
      (tf.cast("double") + lit(k1) * (lit(1.0 - b) +
        lit(b) * (dl.cast("double") / (tt.cast("double") / nd.cast("double")))))
    floor(idf * tfn * lit(1000000.0) + lit(0.5))
  }

  /** BM25 top-k retrieval for one query string — the lexical-search
    * ranking (Robertson/Spärck Jones; the BM25+ no-negative idf form:
    * idf = ln(1 + (N − df + ½)/(df + ½))) over the whitespace token
    * stream. The relevance primitive a corpus team uses to pull
    * topic-targeted documents out of a crawl (seed-document expansion,
    * eval-set retrieval) without an embedding model.
    *
    * Scale: NO inverted index and NO explode — the query has few terms,
    * so per-doc tf is a narrow `size(filter(tokens, _ = term))` per
    * term and doc length a narrow `tokenCount`: ONE pass over the
    * corpus, a 1-row corpus-stats aggregate (N, total tokens, per-term
    * df) broadcast back, then a global TakeOrdered(k) — zero doc-keyed
    * shuffles. Contrast [[tfidfTopK]], which pays the (doc, token)
    * aggregation because it scores EVERY token.
    *
    * Determinism (the scaled-long convention, cf.
    * [[unigramLogProbTable]]): each term's contribution is rounded
    * HALF-UP to micro-units once, and the doc score is the exact LONG
    * sum of those — order-invariant and engine-exact; `bm25_micro` is
    * that long (divide by 10⁶ for the float score). Ties break by id;
    * zero-score docs (no query term present) are excluded.
    */
  def bm25TopK(
      df: DataFrame, idCol: String, textCol: String, query: String,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = query.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "bm25TopK needs a non-empty query string")
    require(k > 0, s"k must be > 0, got $k")
    val id = graft.ops.Cleaning.qcol(idCol)
    val toks = tokens(graft.ops.Cleaning.qcol(textCol))
    // r14 optimization: tokenize ONCE per row. The single-projection
    // form evaluated tokens(text) per term filter plus once for the
    // doc length (1 + |terms| tokenizations per row); the two-step
    // projection pins one evaluation — CollapseProject keeps the
    // boundary because the token array is a non-cheap expression
    // referenced more than once. Same values (size(toks) IS
    // tokenCount), so plans downstream and the oracle are untouched.
    val perDoc = df.select(id, toks.as("__toks__")).select(
      id +:
        size(col("__toks__")).cast("long").as("__dl") +:
        terms.zipWithIndex.map { case (term, i) =>
          size(filter(col("__toks__"), x => x === term)).cast("long").as(s"__tf_$i")
        }: _*)
    val statAggs = count(lit(1)).as("__nd") +: sum(col("__dl")).as("__tt") +:
      terms.indices.map(i =>
        sum(when(col(s"__tf_$i") > 0, 1L).otherwise(0L)).as(s"__df_$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val contribs = terms.indices.map { i =>
      when(col(s"__tf_$i") > 0,
        bm25Contrib(col(s"__tf_$i"), col(s"__df_$i"), col("__dl"),
          col("__nd"), col("__tt"), k1, b).cast("long")).otherwise(lit(0L))
    }
    perDoc.crossJoin(broadcast(stats))
      .withColumn("bm25_micro", contribs.reduce(_ + _))
      .filter(col("bm25_micro") > 0)
      .orderBy(desc("bm25_micro"), id)
      .limit(k)
      .select(id, col("bm25_micro"))
  }

  /** BM25 top-k for a TABLE of queries — the inverted-index
    * formulation for when the query set is itself large: docs explode
    * ONCE to a (doc, token) tf frame (the [[tfidfTopK]] shape, one
    * shuffle), the query vocabulary probes it by a BROADCAST token
    * join, and each (query, doc) sums exact micro-unit contributions
    * (the same [[bm25Contrib]] kernel as the single-query form).
    * Contrast [[bm25TopK]], which stays completely narrow but
    * re-scans per query — right for ONE query, wrong for thousands.
    *
    * Scale: one token-frame shuffle (aggregated once, reused for tf,
    * doc length via the doc-partitioned window sum, and df), queries
    * broadcast, and the per-query top-k rides
    * [[Similarity.topKPerQuery]] — the shared bounded-aggregate
    * epilogue (shuffle ∝ queries × k, never a corpus-wide window
    * sort; non-integral ids take its window fallback). Docs with no
    * query term never materialize a candidate row.
    *
    * Output: (queryIdCol, idCol, bm25_micro, rank), ranked by
    * (score desc, id asc) per query — exactly [[bm25TopK]]'s order.
    */
  def bm25TopKMany(
      df: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKManyParams(df, idCol, textCol, queries, queryIdCol, queryTextCol,
      k, Seq((k1, b))).head

  /** SEVERAL (k1, b) parameterizations ranked off ONE shared
    * tf/df/length pass — the hybrid-retrieval shape (two BM25 variants
    * reciprocal-rank fused): the rankings differ only in the final
    * per-token contribution expression, so the corpus-sized work
    * (tokenize, semi-join against the query vocabulary, the (doc,
    * token) tf aggregate, document frequencies, lengths) is computed
    * once and each parameterization reprices the candidate-sized
    * joined frame (r15, guide §2.3 — previously each variant re-ran
    * the whole pipeline). Element-wise identical to calling
    * [[bm25TopKMany]] per parameter pair. */
  def bm25TopKManyParams(
      df: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, params: Seq[(Double, Double)]): Seq[DataFrame] = {
    require(k > 0, s"k must be > 0, got $k")
    require(params.nonEmpty, "bm25TopKManyParams: need at least one (k1, b)")
    require(queryIdCol != idCol,
      s"queryIdCol and idCol are both '$idCol' — the output would carry two identically-named columns")
    val id = graft.ops.Cleaning.qcol(idCol)
    val qid = graft.ops.Cleaning.qcol(queryIdCol)
    val qt = queries
      .select(qid.as("__qid"), explode(tokens(graft.ops.Cleaning.qcol(queryTextCol))).as("__tok"))
      .distinct()
    // r14 optimization (guide §2.3: filter before the exchange). Only
    // QUERY-vocabulary tokens ever contribute — tf, df and the final
    // contributions all condition on a query-token match — so the
    // token stream is semi-joined against the broadcast vocabulary
    // BEFORE the (doc, token) aggregate: the tf shuffle carries the
    // matching tokens only, not the whole corpus token stream. The doc
    // length (formerly a corpus-wide window over the full tf frame)
    // is the plain per-doc token count — identical value, computed in
    // the same narrow pass as the corpus stats and joined onto the
    // already-tiny candidate frame. Same (query, doc, score) rows out;
    // the oracle is untouched.
    val toks = df.select(id, explode(tokens(graft.ops.Cleaning.qcol(textCol))).as("__tok"))
      .join(broadcast(qt.select(col("__tok")).distinct()), Seq("__tok"), "left_semi")
    val tf = toks.groupBy(id, col("__tok")).agg(count(lit(1)).as("__tf"))
      .localCheckpoint(eager = false) // reused: df counts + the scoring join
    val dfreq = tf.groupBy("__tok").agg(count(lit(1)).as("__df"))
    val stats = df.agg(
      count(lit(1)).as("__nd"),
      sum(tokenCount(graft.ops.Cleaning.qcol(textCol)).cast("long")).as("__tt"))
    val dl = df.select(id,
      tokenCount(graft.ops.Cleaning.qcol(textCol)).cast("long").as("__dl"))
    val joined0 = tf.join(broadcast(qt), "__tok")
      .join(broadcast(dfreq), "__tok")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
    // candidate-sized (matched query-token × doc rows); materialized
    // only when several parameterizations reprice it
    val joined = if (params.length > 1) joined0.localCheckpoint(eager = false) else joined0
    params.map { case (k1, b) =>
      val byDoc = joined
        .withColumn("__contrib",
          bm25Contrib(col("__tf"), col("__df"), col("__dl"), col("__nd"), col("__tt"), k1, b)
            .cast("long"))
        .groupBy(col("__qid"), id)
        .agg(sum(col("__contrib")).as("bm25_micro"))
        .filter(col("bm25_micro") > 0)
      Similarity.topKPerQuery(
          byDoc.select(col("__qid").as("__qid__"), id.as("__cid__"),
            col("bm25_micro").cast("double").as("bm25_micro")),
          queryIdCol, idCol, k, weightCol = "bm25_micro", ascending = false)
        .withColumn("bm25_micro", col("bm25_micro").cast("long")) // exact below 2^53
    }
  }

  /** The broadcastable add-one-smoothed unigram model behind
    * [[unigramLogProbTable]], exposed for callers that score the SAME
    * document pass against several reference models at once
    * ([[graft.scale.Sampling.importanceResample]] — fusing the two
    * scoring passes halves the corpus explode+aggregate work, guide
    * §2.3). Returns (vocab: (__tok, __logp6), oov: 1 row (__oov6)) —
    * the identical scaled-long log-probs the one-model path uses. */
  private[scale] def unigramModel(
      ref: DataFrame, refTextCol: String, vocabSize: Int): (DataFrame, DataFrame) = {
    val counts = ref
      .select(explode(tokens(graft.ops.Cleaning.qcol(refTextCol))).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__cnt"))
      .orderBy(desc("__cnt"), asc("__tok")).limit(vocabSize)
    // driver-sized totals (V rows): total token mass + V, then the
    // per-token scaled log-prob table rejoins as a broadcast relation
    val tot = counts.agg(sum("__cnt").as("__total"), count(lit(1)).as("__v"))
    val denom = col("__total") + col("__v") + 1
    // scaled-long directly (floor(x·10⁶ + 0.5) as BIGINT): re-dividing
    // a halfUp result and re-multiplying would reintroduce a double
    // representation step between the rounding and the integer domain
    def logp6(p: Column): Column = floor(log(p) * 1000000L + 0.5).cast("long")
    val vocab = counts.crossJoin(broadcast(tot))
      .select(col("__tok"), logp6((col("__cnt") + 1) / denom).as("__logp6"))
    val oov = tot.select(logp6(lit(1) / denom).as("__oov6"))
    (vocab, oov)
  }

  /** The per-document distinct-token counts every unigram scorer
    * aggregates — one explode + (doc, token) hash agg. */
  private[scale] def docTokenCounts(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(graft.ops.Cleaning.qcol(idCol),
        explode(tokens(graft.ops.Cleaning.qcol(textCol))).as("__tok"))
      .groupBy(graft.ops.Cleaning.qcol(idCol), col("__tok"))
      .agg(count(lit(1)).as("__n"))

  /** Unigram log-probability scoring — the degenerate-but-honest form
    * of CCNet-style LM quality filtering (Wenzek et al. 2020 filter
    * web text by LM perplexity; a unigram model is the variant whose
    * every step a SQL oracle can replay). Each document scores the
    * MEAN log probability of its tokens under a reference unigram
    * model built from a trusted corpus: boilerplate/gibberish scores
    * low, plain prose high — the standard pre-training corpus filter
    * signal alongside [[qualityTable]].
    *
    * Model: top-`vocabSize` reference tokens by (count desc, token asc)
    * with add-one smoothing — p(t) = (cnt+1)/(total+V+1) for in-vocab,
    * 1/(total+V+1) for OOV, where `total` sums the KEPT vocabulary and
    * V is its size.
    *
    * Determinism (the long-moment trick, cf. zscore/corrMatrix): log p
    * is rounded HALF-UP to 6 dp (micro-nats — ample for a filter
    * signal) and scaled to a LONG once per vocab token; every
    * per-document step after that — count × logp, Σ over tokens — is
    * exact integer arithmetic, so the result is partition/order-
    * invariant and engine-exact (a raw double Σ log p would vary with
    * Spark's reduction order and could never hash-gate; and 6 dp keeps
    * the per-token rounding boundary ~10³ further from any cross-engine
    * ln() ulp than 9 dp would).
    *
    * Scale: reference pass = one explode + hash agg + TakeOrdered-V
    * (V is model-sized, broadcastable); document pass = explode, one
    * (doc, token) hash agg, broadcast join against the V-row model,
    * one doc-keyed agg. Nothing scales with corpus × vocab.
    */
  def unigramLogProbTable(
      df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String, vocabSize: Int = 65536,
      scoreNano: Boolean = false): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val (vocab, oov) = unigramModel(ref, refTextCol, vocabSize)
    val docToks = docTokenCounts(df, idCol, textCol)
    val scored = docToks
      .join(broadcast(vocab), Seq("__tok"), "left")
      .crossJoin(broadcast(oov))
      .groupBy(id).agg(
        sum(col("__n")).as("n_tokens"),
        sum(when(col("__logp6").isNull, col("__n")).otherwise(0L)).as("n_oov"),
        sum(col("__n") * coalesce(col("__logp6"), col("__oov6"))).as("__s6"))
    val base = Seq(id,
      coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
      coalesce(col("n_oov"), lit(0L)).as("n_oov"),
      graft.ops.Rounding.halfUp(
        col("__s6").cast("double") / 1000000L / col("n_tokens"), 9)
        .as("avg_logp"))
    // score_nano is the exact integer behind avg_logp's 9 dp — computed
    // from the integer fold __s6 directly (the identical IEEE expression
    // the oracle runs), never by re-scaling the already-rounded double,
    // so downstream integer consumers (curriculum banding) are hash-
    // robust by construction at any score magnitude
    val cols = if (scoreNano) base :+
      when(col("n_tokens") > 0,
        floor(col("__s6").cast("double") / 1000000L / col("n_tokens")
          * 1000000000L + 0.5).cast("long")).as("score_nano")
    else base
    df.select(id).distinct()
      .join(scored, Seq(idCol), "left")
      .select(cols: _*)
  }

  /** Bigram log-probability scoring — the next fluency rung above
    * [[unigramLogProbTable]] (CCNet filters on LM perplexity; a bigram
    * model starts seeing word ORDER: shuffled-token spam scores like
    * gibberish here while sailing through the unigram filter). Each
    * document scores the mean log probability of its ADJACENT token
    * pairs under an add-one-smoothed bigram model built from a trusted
    * reference corpus: p(w|u) = (c(u,w)+1)/(c(u)+V+1), where c(u) is
    * u's left-context mass, V the reference's distinct-token count;
    * an unseen context u falls back to 1/(V+1).
    *
    * Determinism: the same scaled-long convention as the unigram
    * scorer — each model log-prob is rounded half-up to 6 dp and held
    * as a LONG; all per-document accumulation is exact integer
    * arithmetic (order-invariant, hash-gateable).
    *
    * Scale (100 TB): bigram construction is a NARROW in-array
    * transform (no positional self-join — the [[pmiPairs]] argument);
    * the model tables are keyed aggregates of the reference corpus
    * joined back BY KEY (realized-bigram table is reference-sized, so
    * unlike the unigram scorer's broadcast-V model these joins stay
    * shuffle joins unless AQE proves them small); V is a broadcast
    * 1-row count. Nothing scales with corpus × vocab.
    *
    * Output: (idCol, n_pairs, n_unseen, avg_logp); docs with fewer
    * than 2 tokens have n_pairs = 0 and a null score.
    */
  def bigramLogProbTable(
      df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    def bigramsOf(text: Column): Column = {
      val toks = tokens(text)
      // guarded: sequence(0, -1) would descend, not return empty
      when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2), i =>
          struct(get(toks, i).as("u"), get(toks, i + 1).as("w"))))
        .otherwise(array().cast("array<struct<u:string,w:string>>"))
    }
    val rbi = ref.select(explode(bigramsOf(graft.ops.Cleaning.qcol(refTextCol))).as("__b"))
      .select(col("__b.u").as("__u"), col("__b.w").as("__w"))
      .groupBy("__u", "__w").agg(count(lit(1)).as("__cnt"))
    val ctx = rbi.groupBy("__u").agg(sum(col("__cnt")).as("__cu"))
    val vv = ref.select(explode(tokens(graft.ops.Cleaning.qcol(refTextCol))).as("__t"))
      .agg(count_distinct(col("__t")).as("__v"))
    def logp6(p: Column): Column = floor(log(p) * 1000000L + 0.5).cast("long")
    val bp = rbi.join(ctx, "__u").crossJoin(broadcast(vv))
      .select(col("__u"), col("__w"),
        logp6((col("__cnt") + 1) / (col("__cu") + col("__v") + 1)).as("__bp6"))
    val cp = ctx.crossJoin(broadcast(vv))
      .select(col("__u"), logp6(lit(1) / (col("__cu") + col("__v") + 1)).as("__cp6"))
    val g = vv.select(logp6(lit(1) / (col("__v") + 1)).as("__g6"))
    val docBi = df.select(id, explode(bigramsOf(graft.ops.Cleaning.qcol(textCol))).as("__b"))
      .select(id, col("__b.u").as("__u"), col("__b.w").as("__w"))
      .groupBy(id, col("__u"), col("__w")).agg(count(lit(1)).as("__n"))
    val scored = docBi
      .join(bp, Seq("__u", "__w"), "left")
      .join(cp, Seq("__u"), "left")
      .crossJoin(broadcast(g))
      .groupBy(id).agg(
        sum(col("__n")).as("n_pairs"),
        sum(when(col("__bp6").isNull, col("__n")).otherwise(0L)).as("n_unseen"),
        sum(col("__n") * coalesce(col("__bp6"), col("__cp6"), col("__g6"))).as("__s6"))
    df.select(id).distinct()
      .join(scored, Seq(idCol), "left")
      .select(id,
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        graft.ops.Rounding.halfUp(
          col("__s6").cast("double") / 1000000L / col("n_pairs"), 9)
          .as("avg_logp"))
  }

  /** Document fingerprint: xxhash64 of the normalized token stream —
    * stable under whitespace/case variation. Plus a winnowing-style
    * k-shingle min-hash fingerprint (rolling window of the token-level
    * hash sequence). Not SQL-oracle-able (engine-specific hash fns);
    * covered by ScalaTest.
    */
  def fingerprintTable(df: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame = {
    val toks = tokens(graft.ops.Cleaning.qcol(textCol))
    val joined = array_join(toks, " ")
    val sh = Shingling.shingles(toks, k)
    df.select(
      graft.ops.Cleaning.qcol(idCol),
      xxhash64(joined).as("fingerprint"),
      array_min(transform(sh, s => xxhash64(s))).as("min_shingle_hash"))
  }

  /** Engine-portable fingerprint: 31-base polynomial rolling hash mod
    * 2^31-1 over the codepoints of the normalized token stream — the
    * variant for pipelines that must agree with NON-Spark consumers
    * (and therefore oracle-checkable, unlike xxhash64). Products stay
    * < 2^36, far inside ANSI-mode long range.
    */
  def portableFingerprint(text: Column): Column =
    graft.functions.PortableHash.polyHash31(array_join(tokens(text), " "))

  def portableFingerprintTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      graft.ops.Cleaning.qcol(idCol),
      portableFingerprint(graft.ops.Cleaning.qcol(textCol)).as("fingerprint"))

  /** One-call corpus health report — the first audit a training-data
    * team runs on a new crawl delivery, as a long-format (metric,
    * value) frame: corpus size, empty-doc count, token volume, quality
    * keep rate, exact-duplicate rate (1 − distinct normalized
    * fingerprints / docs — empty docs share fingerprint 0 and count as
    * duplicates, the same convention as exact dedup on normalized
    * text), and the predicted-language distribution.
    *
    * Scale: ONE narrow pass computes per-row (tokens, lang, keep,
    * fingerprint), then a single aggregate (count-distinct adds its
    * standard two-phase expand) and a 1-row stack to long format — no
    * per-metric rescans, no driver collect. Rates are double divisions
    * of exact long counts (engine-portable; null when the corpus is
    * empty).
    */
  def corpusReport(df: DataFrame, textCol: String): DataFrame = {
    val t = graft.ops.Cleaning.qcol(textCol)
    val langs = StopwordLists.map(_._1) :+ "und"
    // r14 optimization: tokenize ONCE per row (the bm25TopK move) —
    // the token count, the lang-ID vote and the quality predicate all
    // consumed tokens(text) independently, three tokenizations per
    // row. The two-step projection pins one evaluation; every derived
    // value is the identical expression over the same token array
    // (size(toks) IS tokenCount), so the report and its oracle are
    // untouched.
    val rows = df.select(t.as("__t"), tokens(t).as("__toks"))
      .select(
        size(col("__toks")).cast("long").as("__tok"),
        langIdFromToks(col("__toks")).as("__lang"),
        coalesce(qualityKeepFromToks(col("__t"), col("__toks")), lit(false))
          .cast("long").as("__keep"),
        portableFingerprint(col("__t")).as("__fp"))
    val aggCols =
      count(lit(1)).as("n_docs") +:
        sum(when(col("__tok") === 0, 1L).otherwise(0L)).as("n_empty_docs") +:
        sum(col("__tok")).as("total_tokens") +:
        sum(col("__keep")).as("n_keep") +:
        countDistinct(col("__fp")).as("n_fp") +:
        langs.map(l => sum(when(col("__lang") === l, 1L).otherwise(0L)).as(s"n_lang_$l"))
    val agg = rows.agg(aggCols.head, aggCols.tail: _*)
    val n = when(col("n_docs") > 0, col("n_docs"))
    val wide = agg.select(
      (col("n_docs").cast("double").as("n_docs") +:
        col("n_empty_docs").cast("double").as("n_empty_docs") +:
        col("total_tokens").cast("double").as("total_tokens") +:
        (col("n_keep") / n).as("quality_keep_rate") +:
        (lit(1.0) - col("n_fp") / n).as("exact_dup_rate") +:
        langs.map(l => (col(s"n_lang_$l") / n).as(s"lang_share_$l"))): _*)
    val pairs = wide.columns.map(c => s"'$c', `$c`").mkString(", ")
    wide.selectExpr(s"stack(${wide.columns.length}, $pairs) as (metric, value)")
  }

  /** Repetition signals per document (the Gopher/MassiveText quality
    * heuristics): type-token ratio, most-frequent-token fraction,
    * duplicated-token mass, and the same three at the bigram level.
    * High repetition = boilerplate / generated spam — the standard
    * pre-training filter alongside `qualityTable`.
    *
    * Shape: explode tokens/bigrams, two hash-aggregates (by (doc, term)
    * then by doc) — the inverted-index pattern, map-side partials apply,
    * shuffle volume ∝ distinct (doc, term) mass. No per-row interpreted
    * loops. All ratios are integer-count divisions (engine-exact).
    * Docs with no tokens keep a row (left join) with null ratios.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val toks = tokens(graft.ops.Cleaning.qcol(textCol))

    def termStats(term: Column, prefix: String): DataFrame =
      df.select(id, explode(term).as("__t"))
        .groupBy(id, col("__t")).agg(count(lit(1)).as("__c"))
        .groupBy(id).agg(
          sum("__c").as(s"${prefix}_count"),
          count(lit(1)).as(s"${prefix}_distinct"),
          max("__c").as(s"__top_$prefix"),
          sum(when(col("__c") > 1, col("__c")).otherwise(0L)).as(s"__dup_$prefix"))

    val uni = termStats(toks, "token")
    // all bigram INSTANCES (with multiplicity), not the distinct set
    val bi = termStats(Shingling.shingles(toks, 2), "bigram")

    def frac(num: Column, den: Column): Column = num / when(den > 0, den)

    df.select(id)
      .join(uni, Seq(idCol), "left")
      .join(bi, Seq(idCol), "left")
      .select(
        id,
        coalesce(col("token_count"), lit(0L)).as("token_count"),
        frac(col("token_distinct"), col("token_count")).as("distinct_token_ratio"),
        frac(col("__top_token"), col("token_count")).as("top_token_frac"),
        frac(col("__dup_token"), col("token_count")).as("dup_token_frac"),
        coalesce(col("bigram_count"), lit(0L)).as("bigram_count"),
        frac(col("__top_bigram"), col("bigram_count")).as("top_bigram_frac"),
        frac(col("__dup_bigram"), col("bigram_count")).as("dup_bigram_frac"))
  }

  /** Shannon token-entropy per corpus slice — the standard diversity
    * audit for a training mixture: a slice whose unigram distribution
    * collapses (low entropy, low type-token ratio) is boilerplate- or
    * template-dominated and gets down-weighted before it poisons the
    * mix. Reports, per slice: token count, distinct-type count,
    * Shannon entropy H = -Σ p·ln p over the slice's unigram histogram
    * (nats), and the normalized H / ln(types) in [0, 1].
    *
    * Exactness: each type's -p·ln(p) term is micro-rounded
    * (`floor(x·1e6 + 0.5)` — non-negative for p ∈ (0,1]) and the
    * per-slice SUM runs over exact longs, so the statistic is
    * order-invariant and engine-exact (the PSI recipe, Stats.psiBands).
    *
    * Scale: explode → (slice, token) hash aggregate (map-side partials;
    * shuffle carries distinct (slice, token) mass, not corpus tokens),
    * a broadcast join of the |slices|-row totals, then a |slices|-group
    * aggregate. Nothing sorts; output is |slices| rows.
    */
  def sliceEntropy(df: DataFrame, sliceCol: String, textCol: String): DataFrame = {
    val s = graft.ops.Cleaning.qcol(sliceCol).cast("string")
    val counts = df
      .select(s.as("slice"), explode(tokens(graft.ops.Cleaning.qcol(textCol))).as("__t"))
      .groupBy(col("slice"), col("__t")).agg(count(lit(1)).as("__c"))
    val tot = counts.groupBy(col("slice")).agg(sum(col("__c")).as("__n"))
    val p = col("__c").cast("double") / col("__n").cast("double")
    counts.join(broadcast(tot), "slice")
      .select(col("slice"), col("__c"),
        floor(-(p * log(p)) * 1e6 + 0.5).cast("long").as("__hm"))
      .groupBy(col("slice"))
      .agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("__hm")).as("__h"))
      .select(col("slice"), col("n_tokens"), col("n_types"),
        (col("__h").cast("double") / 1e6).as("entropy"),
        graft.ops.Rounding.halfUp(
          (col("__h").cast("double") / 1e6) /
            when(col("n_types") > 1L, log(col("n_types").cast("double"))),
          6).as("entropy_norm"))
  }

  /** Pairwise Jensen-Shannon divergence between corpus slices'
    * unigram distributions — the redundancy counterpart to
    * [[sliceEntropy]]'s collapse audit: two sources with near-zero JS
    * are the same distribution twice (merge or down-weight one),
    * JS → ln 2 means fully disjoint vocabularies (a likely
    * language/domain mismatch in the mixture). Reports every unordered
    * slice pair sharing at least one token type:
    * (slice_a, slice_b, n_shared_types, js) with js in nats ∈
    * [0, ln 2].
    *
    * Exactness: the shared-token sum Σ p·ln(2p/(p+q)) + q·ln(2q/(p+q))
    * is nano-rounded PER TERM and summed as longs (order-invariant);
    * the exclusive-mass correction is exact — a token absent from the
    * other slice contributes p·ln 2, so the tail collapses to
    * ln 2 · ((n_a − shared_a)/n_a + (n_b − shared_b)/n_b) computed
    * from exact long counts in ONE fixed expression at the end. Both
    * engines evaluate the identical arithmetic tree.
    *
    * Scale: the (slice, token) count table self-joins on the TOKEN key
    * (co-partitioned; per-token fan-out bounded by |slices|), per-pair
    * aggregate to |slices|² rows, totals broadcast. Pairs with no
    * shared vocabulary do not appear (their JS is exactly ln 2).
    */
  def sliceJsDivergence(
      df: DataFrame, sliceCol: String, textCol: String): DataFrame = {
    val s = graft.ops.Cleaning.qcol(sliceCol).cast("string")
    val counts = df
      .select(s.as("slice"), explode(tokens(graft.ops.Cleaning.qcol(textCol))).as("__t"))
      .groupBy(col("slice"), col("__t")).agg(count(lit(1)).as("__c"))
    val tot = counts.groupBy(col("slice")).agg(sum(col("__c")).as("__n"))
    val shared = counts.select(col("slice").as("slice_a"), col("__t"), col("__c").as("__ca"))
      .join(counts.select(col("slice").as("slice_b"), col("__t"), col("__c").as("__cb")),
        Seq("__t"))
      .filter(col("slice_a") < col("slice_b"))
      .join(broadcast(tot.select(col("slice").as("slice_a"), col("__n").as("__na"))), Seq("slice_a"))
      .join(broadcast(tot.select(col("slice").as("slice_b"), col("__n").as("__nb"))), Seq("slice_b"))
    val p = col("__ca").cast("double") / col("__na").cast("double")
    val q = col("__cb").cast("double") / col("__nb").cast("double")
    val term = p * log(lit(2.0) * p / (p + q)) + q * log(lit(2.0) * q / (p + q))
    shared
      .select(col("slice_a"), col("slice_b"),
        floor(term * 1e9 + 0.5).cast("long").as("__tn"),
        col("__ca"), col("__cb"), col("__na"), col("__nb"))
      .groupBy(col("slice_a"), col("slice_b"))
      .agg(
        count(lit(1)).as("n_shared_types"),
        sum(col("__tn")).as("__t"),
        sum(col("__ca")).as("__sa"), sum(col("__cb")).as("__sb"),
        max(col("__na")).as("__na"), max(col("__nb")).as("__nb"))
      .select(col("slice_a"), col("slice_b"), col("n_shared_types"),
        graft.ops.Rounding.halfUp(
          (col("__t").cast("double") / 1e9 +
            log(lit(2.0)) *
              ((col("__na") - col("__sa")).cast("double") / col("__na").cast("double") +
                (col("__nb") - col("__sb")).cast("double") / col("__nb").cast("double"))) / 2.0,
          6).as("js"))
  }

  /** Concat-and-chunk sequence packing — assign every document a
    * (shard, pack_id, pack_offset) for fixed-size training windows of
    * `budget` tokens: documents are concatenated in id order within a
    * shard and chunked every `budget` tokens (a doc straddling a chunk
    * boundary belongs to the pack where it starts). This is the
    * standard LLM pre-training batching layout.
    *
    * Scale: the running sum is a window PARTITIONED BY shard — never a
    * global sort (the `ntile` trap). Set `shards` ≈ cluster parallelism
    * so each task sorts only its shard; `doc_id % shards` keeps the
    * assignment engine-portable and re-run-stable. Integer `div`/`pmod`
    * throughout — exact at any magnitude.
    *
    * `extraPartitionCols` prepend to the pack partition (and pass
    * through to the output): pass `Seq("split")` so a pack never
    * straddles a train/val/test boundary — a window that mixed splits
    * would leak eval tokens into training packs. `passThroughCols` ride
    * along to the output WITHOUT joining the pack partition (metadata a
    * manifest wants next to each document — carrying them through here
    * beats re-joining them back by id, which re-scans the input).
    */
  def packSequences(
      df: DataFrame, idCol: String, textCol: String,
      budget: Int = 512, shards: Int = 8,
      extraPartitionCols: Seq[String] = Nil,
      passThroughCols: Seq[String] = Nil): DataFrame =
    packByCount(
      df.withColumn("__pack_count__",
        tokenCount(graft.ops.Cleaning.qcol(textCol)).cast("long")),
      idCol, "__pack_count__", budget, shards, extraPartitionCols, passThroughCols)

  /** [[packSequences]] with a PRECOMPUTED per-document token count —
    * the shape a production pipeline actually packs with: counts come
    * from the real tokenizer ([[bpeEncode]]'s `n_units`), not the
    * whitespace estimate. Same layout contract: documents concatenate
    * in id order within (extras…, shard), windows partition per
    * (extras…, shard) — never global — and `pack_id`/`pack_offset`
    * address each document's place in the fixed-`budget` training
    * windows. `packSequences` == whitespace-count + `packByCount`, by
    * construction.
    */
  def packByCount(
      df: DataFrame, idCol: String, countCol: String,
      budget: Int = 512, shards: Int = 8,
      extraPartitionCols: Seq[String] = Nil,
      passThroughCols: Seq[String] = Nil): DataFrame = {
    require(budget > 0 && shards > 0, s"need positive budget/shards, got $budget/$shards")
    val id = graft.ops.Cleaning.qcol(idCol)
    val extras = extraPartitionCols.map(graft.ops.Cleaning.qcol)
    val metas = passThroughCols.map(graft.ops.Cleaning.qcol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(extras :+ col("shard"): _*).orderBy(id)
    df.select(
        (id +: extras) ++ metas :+
        pmod(id.cast("long"), lit(shards.toLong)).as("shard") :+
        graft.ops.Cleaning.qcol(countCol).cast("long").as("token_count"): _*)
      .withColumn("__start", sum(col("token_count")).over(w) - col("token_count"))
      .select(
        (id +: extras) ++ metas :+ col("shard") :+ col("token_count") :+
        expr(s"__start div $budget").as("pack_id") :+
        pmod(col("__start"), lit(budget.toLong)).as("pack_offset"): _*)
  }

  /** Packing-efficiency audit over [[packSequences]]' layout — per
    * (extras…, shard): document and token volume, pack count, the
    * tail-pack waste (`n_packs·budget − n_tokens` — concat-and-chunk
    * wastes ONLY the final partial window), and how many pack
    * boundaries document bodies straddle (each straddle is a training
    * window that opens mid-document — the fragmentation cost a shorter
    * `budget` trades against more packs). The report a pipeline reads
    * before choosing a context length: all integer arithmetic on exact
    * token counts, so engines agree bit-for-bit.
    *
    * Scale: the [[packSequences]] shard-partitioned running sum plus
    * ONE summary aggregate to |extras × shards| rows — nothing here
    * outlives the per-shard window already sized by `shards`.
    */
  def packEfficiency(
      df: DataFrame, idCol: String, textCol: String,
      budget: Int = 512, shards: Int = 8,
      extraPartitionCols: Seq[String] = Nil): DataFrame = {
    val packed = packSequences(df, idCol, textCol, budget, shards, extraPartitionCols)
    val groupCols = extraPartitionCols.map(graft.ops.Cleaning.qcol) :+ col("shard")
    // boundaries crossed by one doc: its body spans token positions
    // [pack_offset, pack_offset + token_count) within its start pack
    val crossings = when(col("token_count") > 0,
      expr(s"(pack_offset + token_count - 1) div ${budget.toLong}"))
      .otherwise(lit(0L))
    packed.groupBy(groupCols: _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("token_count")).as("n_tokens"),
        sum(crossings).as("n_crossings"))
      .withColumn("n_packs",
        when(col("n_tokens") > 0,
          expr(s"(n_tokens - 1) div ${budget.toLong} + 1")).otherwise(lit(0L)))
      .withColumn("tail_waste", col("n_packs") * budget - col("n_tokens"))
      .select(groupCols ++ Seq(col("n_docs"), col("n_tokens"), col("n_packs"),
        col("tail_waste"), col("n_crossings")): _*)
  }

  /** Padded bucketed batching — the dynamic-batching layout for
    * finetuning/inference where documents must NOT split across
    * sequences (contrast [[packSequences]], which concatenates and
    * chunks): docs are banded by length (linear bands of `bandWidth`
    * tokens; a doc pads to its band ceiling), and each (shard, band)
    * runs a fixed `capacity div band_ceil` docs per batch — so every
    * batch holds same-band docs and its padded footprint stays ≤
    * `capacity`. Length bucketing is what makes padding affordable:
    * batching heterogeneous lengths together pads everything to the
    * longest member; banding caps that waste at `bandWidth − 1` per
    * doc, exactly accounted in `padded_to − token_count`. Docs longer
    * than `capacity` get a batch of their own (`docs_per_batch`
    * floors at 1) — flagged by `padded_to > capacity`, the caller's
    * cue to route them to [[chunkDocuments]] first.
    *
    * All integer arithmetic (band ceilings, row numbers, div) — no
    * engine drift possible. Empty docs band to the first band.
    *
    * Scale: one narrow map + a row_number window PARTITIONED BY
    * (shard, band) — finer-grained than the pack window, never
    * global; output is one row per doc, no shuffle beyond the window's.
    */
  def bucketedBatches(
      df: DataFrame, idCol: String, textCol: String,
      capacity: Int = 512, bandWidth: Int = 16, shards: Int = 8): DataFrame = {
    require(capacity > 0 && bandWidth > 0 && shards > 0,
      s"need positive capacity/bandWidth/shards, got $capacity/$bandWidth/$shards")
    val id = graft.ops.Cleaning.qcol(idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"), col("padded_to")).orderBy(id)
    df.select(
        id,
        pmod(id.cast("long"), lit(shards.toLong)).as("shard"),
        tokenCount(graft.ops.Cleaning.qcol(textCol)).cast("long").as("token_count"))
      .withColumn("padded_to",
        greatest(lit(bandWidth.toLong),
          expr(s"((token_count + ${bandWidth - 1}) div $bandWidth) * $bandWidth")))
      .withColumn("__dpb",
        greatest(lit(1L), expr(s"${capacity.toLong} div padded_to")))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("batch_id", expr("(__rn - 1) div __dpb"))
      .select(id, col("shard"), col("token_count"), col("padded_to"),
        col("batch_id"))
  }

  /** Batch-efficiency audit over [[bucketedBatches]]' layout — per
    * shard: document/token volume, batch count, the padded footprint
    * (every doc pays its band ceiling) and the padding waste. THE
    * number that justifies length bucketing: batching heterogeneous
    * lengths pads everything to the longest member, banding caps the
    * per-doc waste at `bandWidth − 1`. All exact integer arithmetic.
    *
    * Scale: the (shard, band) row_number window plus two summary
    * aggregates — batch identity is (band, batch) pairs, counted
    * distinct per shard (bounded by docs/dpb, a summary by
    * construction).
    */
  def batchEfficiency(
      df: DataFrame, idCol: String, textCol: String,
      capacity: Int = 512, bandWidth: Int = 16, shards: Int = 8): DataFrame = {
    val b = bucketedBatches(df, idCol, textCol, capacity, bandWidth, shards)
    b.groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("token_count")).as("n_tokens"),
        countDistinct(col("padded_to"), col("batch_id")).as("n_batches"),
        sum(col("padded_to")).as("padded_tokens"))
      .withColumn("waste_tokens", col("padded_tokens") - col("n_tokens"))
  }

  /** Sliding-window chunking of the token stream — the RAG/pre-training
    * splitter: windows of `chunk` tokens whose starts advance by
    * `chunk - overlap`, so consecutive chunks share `overlap` tokens.
    * A window starts at every multiple of the step below the token
    * count; the last window simply runs short (no padding). Empty docs
    * produce no chunks.
    *
    * Scale: one narrow map + posexplode — output rows ∝ total tokens /
    * step, no shuffle at all; chunk boundaries are pure arithmetic so
    * the DuckDB oracle slices identically.
    */
  def chunkDocuments(
      df: DataFrame, idCol: String, textCol: String,
      chunk: Int = 128, overlap: Int = 32): DataFrame = {
    require(chunk > 0 && overlap >= 0 && overlap < chunk,
      s"need 0 <= overlap < chunk, got overlap=$overlap chunk=$chunk")
    val step = chunk - overlap
    val id = graft.ops.Cleaning.qcol(idCol)
    val toks = tokens(graft.ops.Cleaning.qcol(textCol))
    val n = size(toks)
    val starts = when(n > 0, sequence(lit(0), n - 1, lit(step)))
      .otherwise(array().cast("array<int>"))
    df.select(id, toks.as("__toks"), explode(starts).as("s"))
      .select(
        id,
        (col("s") / step).cast("long").as("chunk_index"),
        least(lit(chunk), size(col("__toks")) - col("s")).cast("long").as("n_tokens"),
        array_join(slice(col("__toks"), col("s") + 1, lit(chunk)), " ").as("chunk_text"))
  }

  /** `https?://host` domain extractor (capture group 1 = the authority
    * up to the first slash). RE2/Java-shared syntax, like the PII
    * patterns above. */
  val DomainPattern = "https?://([^/\\s]+)"

  private def domainsOf(text: Column): Column =
    transform(
      regexp_extract_all(text, lit(UrlPattern), lit(0)),
      u => lower(regexp_extract(u, DomainPattern, 1)))

  /** Unicode/text normalization — the standard pre-tokenization cleanup
    * of a web-scale ingest, in a fixed order:
    *   1. line endings → `\n` (`\r\n` and bare `\r`)
    *   2. Unicode NFC (canonical composition — combining sequences
    *      collapse to precomposed forms, so "é" always hashes/dedups
    *      the same; native JDK normalizer, DuckDB `nfc_normalize`
    *      agrees)
    *   3. strip control characters except `\n`/`\t`
    *   4. strip zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) — invisible
    *      dedup-poison
    * All regex steps use RE2/Java-shared syntax (`\x{…}` classes, no
    * intersections), so the oracle applies the identical chain.
    */
  def normalizeText(text: Column): Column = {
    val eol = regexp_replace(text, "\r\n|\r", "\n")
    val nfc = graft.functions.Native.normalizeNfc(eol)
    val noCtl = regexp_replace(nfc, "[\\x00-\\x08\\x0B-\\x1F\\x7F]", "")
    regexp_replace(noCtl, "[\\x{200B}-\\x{200D}\\x{FEFF}]", "")
  }

  /** (id, norm_text, n_chars_removed) per document — `normalizeText`
    * plus the byte of audit a pipeline logs (how much invisible junk
    * the delivery carried). Narrow row-local map. */
  def normalizeTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = graft.ops.Cleaning.qcol(textCol)
    df.select(
      graft.ops.Cleaning.qcol(idCol),
      normalizeText(t).as("norm_text"),
      (length(t) - length(normalizeText(t))).cast("long").as("n_chars_removed"))
  }

  /** Tracking-query-parameter alternation (utm_*, click ids) shared by
    * [[canonicalizeUrl]] and its oracle — RE2/Java-shared syntax, like
    * the PII patterns above. */
  val TrackingParamPattern: String = "(?:utm_[a-z0-9]+|gclid|fbclid|msclkid|mc_eid)"

  /** URL canonicalization — the normalize-before-dedup step of a web
    * crawl pipeline: strip the fragment, drop tracking query parameters
    * (utm_*, gclid, fbclid, msclkid, mc_eid), drop an emptied query
    * string, and lowercase the scheme+authority (paths stay
    * case-sensitive). Pure regexp_replace/extract chain, codegen'd and
    * narrow; every pattern avoids lookarounds/backrefs so a RE2-based
    * oracle applies the identical chain.
    *
    * The tracking-param removal is a two-pass regex (no lookbehind in
    * RE2): pass 1 removes every `&tracked=…` (each match consumes its
    * OWN leading `&`, so runs of tracking params all match); pass 2
    * re-anchors a tracking param left in FIRST position onto the
    * following parameter (`?tracked=…&next` → `?next`); pass 3 drops a
    * now-dangling trailing `?`/`&`.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val p1 = regexp_replace(noFrag, "&" + TrackingParamPattern + "=[^&#]*", "")
    val p2 = regexp_replace(p1, "\\?" + TrackingParamPattern + "=[^&#]*&", "?")
    val p3 = regexp_replace(p2, "[?&]" + TrackingParamPattern + "=[^&#]*$", "")
    val stripped = regexp_replace(p3, "[?&]+$", "")
    val prefix = regexp_extract(stripped, "^(https?://[^/?#]*)", 1)
    val rest = regexp_replace(stripped, "^https?://[^/?#]*", "")
    when(prefix === "", stripped).otherwise(concat(lower(prefix), rest))
  }

  /** Canonical-URL statistics over the corpus: (canon_url, n_urls,
    * n_docs) — [[urlDomainStats]] at full-URL granularity after
    * [[canonicalizeUrl]], i.e. the dedup key census for URL-keyed crawl
    * dedup. Same inverted-index shape: explode + one hash aggregate.
    */
  def urlCanonStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    df.select(id,
        explode(regexp_extract_all(graft.ops.Cleaning.qcol(textCol), lit(UrlPattern), lit(0))).as("__u"))
      .select(id, canonicalizeUrl(col("__u")).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_urls"), countDistinct(id).as("n_docs"))
  }

  /** Per-domain URL statistics over the corpus: (domain, n_urls,
    * n_docs). The provenance/blocklist audit a web-scale pipeline runs
    * before filtering. One explode + one hash aggregate (count-distinct
    * is Spark's two-phase partial-agg form) — inverted-index shape.
    */
  def urlDomainStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    df.select(id, explode(domainsOf(graft.ops.Cleaning.qcol(textCol))).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"), countDistinct(id).as("n_docs"))
  }

  /** Drop documents containing a URL from a blocked domain. Row-local
    * narrow filter (the blocklist ships as a literal array — for
    * million-entry blocklists switch to a broadcast left_anti join on
    * the exploded domains instead). Docs with no URLs always survive.
    */
  def filterBlockedDomains(
      df: DataFrame, textCol: String, blocked: Seq[String]): DataFrame = {
    val blockedLit = lit(blocked.map(_.toLowerCase).toArray)
    // coalesce: null text has no domains (arrays_overlap(null,…) is
    // null, which the filter would silently drop)
    val doms = coalesce(
      domainsOf(graft.ops.Cleaning.qcol(textCol)), array().cast("array<string>"))
    df.filter(!arrays_overlap(doms, blockedLit))
  }

  /** All dot-suffixes of a domain, longest first: "a.b.example.com" →
    * ["a.b.example.com", "b.example.com", "example.com", "com"] — the
    * expansion that gives a blocklist entry wildcard-subdomain
    * semantics. Bounded by the label count (real hostnames: ≤ ~10). */
  private def domainSuffixes(domain: Column): Column = {
    val parts = split(domain, "\\.")
    transform(sequence(lit(0), size(parts) - 1),
      i => array_join(slice(parts, i + 1, size(parts) - i), "."))
  }

  /** Drop documents containing a URL whose domain IS or IS UNDER a
    * blocked entry — the suffix semantics real blocklists (UT1,
    * registrable-domain lists) carry: blocking `example.com` must also
    * block `cdn.news.example.com`, which [[filterBlockedDomains]]'
    * exact match misses (crawl URLs put arbitrary subdomain prefixes
    * in front of the listed domain). A domain matches when any of its
    * dot-suffixes equals a blocklist entry — exact string equality on
    * the expanded suffix set, so `notexample.com` never matches
    * `example.com` (the naive `endsWith` false positive).
    *
    * Row-local narrow filter: the blocklist ships lowercased as a
    * literal array and each row checks `arrays_overlap` of its
    * flattened URL-domain suffixes — no join, no shuffle, codegen'd,
    * the 100 TB shape for list sizes up to ~100k entries. For
    * million-entry lists use [[blockedDomainAudit]]'s broadcast-join
    * shape on the exploded suffixes and anti-join the ids back. Docs
    * with no URLs (or null text) always survive.
    */
  def filterBlockedDomainSuffix(
      df: DataFrame, textCol: String, blocked: Seq[String]): DataFrame = {
    val blockedLit = lit(blocked.map(_.toLowerCase).toArray)
    val doms = coalesce(
      domainsOf(graft.ops.Cleaning.qcol(textCol)), array().cast("array<string>"))
    df.filter(!arrays_overlap(
      flatten(transform(doms, d => domainSuffixes(d))), blockedLit))
  }

  /** Blocklist hygiene report: per blocklist entry, how many URL
    * occurrences and how many documents it actually blocks (suffix
    * semantics, as [[filterBlockedDomainSuffix]]). Zero-filled — dead
    * entries that never fire show up as (domain, 0, 0), which is
    * exactly what a blocklist curator prunes on.
    *
    * Scale: the corpus side explodes to (doc, domain, suffix) rows
    * (bounded by URLs × labels) and inner-joins the BROADCAST
    * blocklist — the corpus never shuffles on the suffix key; the
    * surviving matched mass is ≤ |blocklist| groups, and the final
    * zero-fill join runs between two blocklist-sized frames.
    */
  def blockedDomainAudit(
      df: DataFrame, idCol: String, textCol: String,
      blocklist: DataFrame): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val block = blocklist.select(lower(col("domain")).as("domain"))
    val hits = df
      .select(id.as("__id"),
        explode(domainsOf(graft.ops.Cleaning.qcol(textCol))).as("__dom"))
      .select(col("__id"), explode(domainSuffixes(col("__dom"))).as("domain"))
      .join(broadcast(block), Seq("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"), countDistinct(col("__id")).as("n_docs"))
    block.join(hits, Seq("domain"), "left")
      .select(col("domain"),
        coalesce(col("n_urls"), lit(0L)).as("n_urls"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Corpus-wide exact LINE-level dedup — the C4/RefinedWeb boilerplate
    * remover: across ALL documents, every distinct non-blank line keeps
    * only its first occurrence (lexicographically-min (doc id, line
    * position)); later occurrences are dropped and each document is
    * reassembled from its surviving lines in original order. Blank /
    * whitespace-only lines always survive: they are layout, not
    * content — and they are the ultimate hot key, so exempting them
    * also keeps the biggest degenerate group out of the aggregate
    * entirely. A document whose every line is dropped keeps its row
    * with empty text (n_kept = 0), so the output stays 1:1 with the
    * corpus.
    *
    * Output: (idCol, n_lines, n_kept, clean_text).
    *
    * Scale (100 TB): posexplode is narrow; the keeper election is ONE
    * hash aggregate on the 64-bit line hash — a boilerplate line
    * repeated across half the web collapses map-side via partial
    * aggregation, never funneling through a single task (a window over
    * the line key would; see capBuckets for the same argument). The
    * join back is co-partitioned on that hash and carries (hash, doc,
    * pos) — 24 bytes per line, not the line text. Reassembly state is
    * bounded by single-document size. Line equality is 64-bit hash
    * equality (collision odds ~1e-15 at web scale — the
    * hashedShingleSet contract); the oracle compares the REASSEMBLED
    * text, so a collision would be caught, not masked.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val lines = df.select(
      id.as("__doc"),
      posexplode(split(graft.ops.Cleaning.qcol(textCol), "\n")).as(Seq("__no", "__line")))
    val nonBlank = lines.filter(trim(col("__line")) =!= "")
      .withColumn("__lh", xxhash64(col("__line")))
    // keeper per distinct line = min (doc, position): a plain struct-min
    // aggregate (deterministic, partial-agg friendly)
    val keepers = nonBlank.groupBy(col("__lh"))
      .agg(min(struct(col("__doc"), col("__no"))).as("__k"))
    val keptNonBlank = nonBlank.join(keepers, "__lh")
      .filter(col("__doc") === col("__k.__doc") && col("__no") === col("__k.__no"))
      .select(col("__doc"), col("__no"), col("__line"))
    val kept = keptNonBlank.unionByName(lines.filter(trim(col("__line")) === ""))
    val rebuilt = kept.groupBy(col("__doc")).agg(
      count(lit(1)).as("n_kept"),
      concat_ws("\n",
        transform(array_sort(collect_list(struct(col("__no"), col("__line")))),
          s => s.getField("__line"))).as("clean_text"))
    val t = graft.ops.Cleaning.qcol(textCol)
    df.select(id.as("__doc"),
        when(t.isNull, lit(0)).otherwise(size(split(t, "\n"))).cast("long").as("n_lines"))
      .join(rebuilt, Seq("__doc"), "left")
      .select(
        col("__doc").as(idCol),
        col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-group boilerplate line removal — the CCNet/RefinedWeb cousin
    * of [[dedupLines]]: a non-blank line that occurs in at least
    * `minDocs` DISTINCT documents of the same group (site, source,
    * domain — whatever `groupCol` carries) is template chrome (nav
    * bars, cookie banners, footers), and EVERY occurrence is stripped
    * — unlike [[dedupLines]], which keeps the first. Lines are compared
    * within-group only: a sentence that happens to repeat across
    * unrelated sources is content, not chrome. Blank / whitespace-only
    * lines always survive (layout, and the ultimate hot key). Output
    * stays 1:1 with the corpus: (idCol, n_lines, n_kept, clean_text) —
    * the same shape as [[dedupLines]] so the two compose with the same
    * epilogue.
    *
    * Scale (100 TB): the boilerplate election is ONE hash aggregate on
    * (group, 64-bit line hash) with map-side-partial distinct-doc
    * counting — a banner repeated on every page of a domain collapses
    * per-partition, never funneling through one task. The election
    * output is only the boilerplate KEYS (filtered by `minDocs`, a tiny
    * fraction of distinct lines), so the strip is a left_anti join AQE
    * can broadcast. Reassembly state is bounded by single-document
    * size. Line equality is 64-bit hash equality and the oracle
    * compares the reassembled TEXT — a collision would be caught, not
    * masked (the dedupLines contract).
    */
  def stripBoilerplate(
      df: DataFrame, idCol: String, textCol: String,
      groupCol: String, minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val id = graft.ops.Cleaning.qcol(idCol)
    val lines = df.select(
      id.as("__doc"), graft.ops.Cleaning.qcol(groupCol).as("__grp"),
      posexplode(split(graft.ops.Cleaning.qcol(textCol), "\n")).as(Seq("__no", "__line")))
    val nonBlank = lines.filter(trim(col("__line")) =!= "")
      .withColumn("__lh", xxhash64(col("__line")))
    // distinct-doc frequency per (group, line); count_distinct expands
    // to the same two-phase partial aggregate a manual distinct+count
    // would, without a second shuffle stage in the plan
    val chrome = nonBlank.groupBy(col("__grp"), col("__lh"))
      .agg(count_distinct(col("__doc")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__grp"), col("__lh"))
    val keptNonBlank = nonBlank.join(chrome, Seq("__grp", "__lh"), "left_anti")
      .select(col("__doc"), col("__no"), col("__line"))
    val kept = keptNonBlank.unionByName(
      lines.filter(trim(col("__line")) === "").select(col("__doc"), col("__no"), col("__line")))
    val rebuilt = kept.groupBy(col("__doc")).agg(
      count(lit(1)).as("n_kept"),
      concat_ws("\n",
        transform(array_sort(collect_list(struct(col("__no"), col("__line")))),
          s => s.getField("__line"))).as("clean_text"))
    val t = graft.ops.Cleaning.qcol(textCol)
    df.select(id.as("__doc"),
        when(t.isNull, lit(0)).otherwise(size(split(t, "\n"))).cast("long").as("n_lines"))
      .join(rebuilt, Seq("__doc"), "left")
      .select(
        col("__doc").as(idCol),
        col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Hashed-feature Naive-Bayes log-odds model — the fasttext-shape
    * linear text classifier every corpus pipeline runs as its quality /
    * domain filter (CCNet's fasttext LM filter, GPT-3's WebText-vs-
    * CommonCrawl logistic classifier): token features hash into
    * `buckets` fixed slots (the hashing trick — vocabulary-free, so the
    * model is a FIXED-SIZE array no matter the corpus), and each bucket
    * carries the add-one-smoothed log-odds of the positive class.
    * Returned model: exactly `buckets` rows (bucket, pos_count,
    * neg_count, w_micro) with w_micro = floor(ln(((posc+1)·(negtot+D))
    * / ((negc+1)·(postot+D)))·10⁶ + 0.5) — the 6-dp scaled-long
    * convention ([[unigramLogProbTable]]), so downstream sums are exact
    * integer arithmetic. Buckets unseen in training still get the
    * smoothing-prior weight (they are materialized, not dropped).
    *
    * Scale: ONE explode→groupBy over the labeled corpus (map-side
    * partials collapse to ≤ `buckets` rows per partition); totals are a
    * 1-row broadcast; the bucket spine is a driver-free `spark.range`.
    * The model is buckets-sized — broadcastable by construction.
    *
    * Fit ONCE per corpus, persist with
    * [[graft.scale.Models.saveHashedClassifier]], and load the artifact
    * everywhere a score is needed ([[hashedClassifierScore]] takes the
    * loaded frame): the save→load roundtrip is bit-exact, and because
    * the model frame is lazy, every plan that embeds the un-persisted
    * fit re-scans the labeled corpus — at 100 TB that is a full extra
    * pass per consumer.
    */
  def hashedClassifierFit(
      df: DataFrame, textCol: String, labelCol: String,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val lbl = graft.ops.Cleaning.qcol(labelCol)
    val toks = tokens(coalesce(graft.ops.Cleaning.qcol(textCol), lit("")))
    val bt = df.select(lbl.cast("boolean").as("__pos"), explode(toks).as("__t"))
      .select(col("__pos"),
        pmod(graft.functions.PortableHash.polyHash31(col("__t")), lit(buckets.toLong)).as("bucket"))
    val bc = bt.groupBy(col("bucket")).agg(
      sum(when(col("__pos"), 1L).otherwise(0L)).as("__pc"),
      sum(when(!col("__pos"), 1L).otherwise(0L)).as("__nc"))
    val spine = df.sparkSession.range(buckets).select(col("id").as("bucket"))
    val m0 = spine.join(bc, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("__pc"), lit(0L)).as("pos_count"),
        coalesce(col("__nc"), lit(0L)).as("neg_count"))
    val tot = m0.agg(sum(col("pos_count")).as("__pt"), sum(col("neg_count")).as("__nt"))
    m0.crossJoin(broadcast(tot)).select(
      col("bucket"), col("pos_count"), col("neg_count"),
      floor(log(
        ((col("pos_count") + 1L).cast("double") * (col("__nt") + buckets).cast("double")) /
          ((col("neg_count") + 1L).cast("double") * (col("__pt") + buckets).cast("double")))
        * 1000000L + 0.5).cast("long").as("w_micro"))
  }

  /** Scores every document under a [[hashedClassifierFit]] model:
    * score_micro = Σ over token OCCURRENCES of w_micro(bucket(token))
    * — an exact long sum (order-invariant, engine-exact; divide by 10⁶
    * · n_tokens for the mean log-odds). Empty documents score 0.
    *
    * Scale: the model is `buckets` rows → broadcast-joined against the
    * exploded token stream (narrow), then ONE doc-keyed aggregate: a
    * single shuffle over the corpus regardless of model or vocabulary
    * size — the property the hashing trick buys.
    */
  def hashedClassifierScore(
      df: DataFrame, idCol: String, textCol: String,
      model: DataFrame, buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val id = graft.ops.Cleaning.qcol(idCol)
    val toks = tokens(coalesce(graft.ops.Cleaning.qcol(textCol), lit("")))
    val dt = df.select(id.as("__doc"), explode(toks).as("__t"))
      .select(col("__doc"),
        pmod(graft.functions.PortableHash.polyHash31(col("__t")), lit(buckets.toLong)).as("bucket"))
    val scored = dt.join(broadcast(model.select(col("bucket"), col("w_micro"))), Seq("bucket"))
      .groupBy(col("__doc")).agg(
        count(lit(1)).as("n_tokens"),
        sum(col("w_micro")).as("score_micro"))
    df.select(id.as("__doc")).distinct()
      .join(scored, Seq("__doc"), "left")
      .select(col("__doc").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("score_micro"), lit(0L)).as("score_micro"))
  }

  /** Classifier calibration (reliability) table — the audit that
    * closes the fit → score → threshold loop: per mean-log-odds band,
    * how often is the label ACTUALLY positive? A well-calibrated
    * quality classifier shows pos_rate rising monotonically with
    * mean_score; a flat or folded curve means the scores order
    * documents but their magnitudes are meaningless, so any
    * budget/threshold computed from score VALUES (rather than ranks)
    * is garbage. Run it on a held-out set for honest calibration —
    * in-sample it still catches fold-overs and dead score regions.
    *
    * Binning: bin = floor(mean_nats · binsPerNat), where mean_nats =
    * score_micro / (1e6 · n_tokens) — the floor of an identical IEEE
    * expression on both engines (the lenband precedent), safe for
    * NEGATIVE scores too, where integer `div`'s truncate-vs-floor
    * divergence would break parity. Per-doc means are micro-rounded
    * to longs before the bin sum, so mean_score is order-invariant.
    * Empty documents (n_tokens = 0) are excluded — they carry no
    * signal and their mean is undefined.
    *
    * Scale: one scoring pass (broadcast model), a row-local binning,
    * and a |bins|-group aggregate — bins are bounded by the weight
    * range (tens of nats × binsPerNat), never corpus-sized.
    */
  def classifierCalibration(
      df: DataFrame, idCol: String, textCol: String, labelCol: String,
      model: DataFrame, buckets: Int, binsPerNat: Int = 4): DataFrame = {
    require(binsPerNat >= 1, s"binsPerNat must be >= 1, got $binsPerNat")
    val id = graft.ops.Cleaning.qcol(idCol)
    val scored = hashedClassifierScore(df, idCol, textCol, model, buckets)
      .filter(col("n_tokens") > 0)
    val j = scored.join(
      df.select(id, graft.ops.Cleaning.qcol(labelCol).cast("boolean").as("__pos")),
      Seq(idCol))
    val meanNats = col("score_micro").cast("double") /
      (lit(1e6) * col("n_tokens").cast("double"))
    j.select(
        floor(meanNats * binsPerNat).cast("long").as("bin"),
        floor(meanNats * 1e6 + 0.5).cast("long").as("__m6"),
        col("__pos"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("__m6")).as("__sm"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        graft.ops.Rounding.halfUp(
          col("n_pos").cast("double") / col("n_docs").cast("double"), 6).as("pos_rate"),
        graft.ops.Rounding.halfUp(
          col("__sm").cast("double") / 1e6 / col("n_docs").cast("double"), 6).as("mean_score"))
  }

  /** Span-level exact-substring dedup (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * observation, in hash-window form): every length-`w` token window
    * is hashed ([[graft.functions.Native.SpanPolyHashes]]), a window
    * whose hash occurs at least `minCount` times ANYWHERE in the corpus
    * (including within one document — verbatim boilerplate repeats
    * intra-doc too) marks its `w` member tokens as duplicated, and the
    * cleaned text drops every covered token. Line dedup
    * ([[lineDedupTable]]) catches aligned repeats; this catches the
    * unaligned ones — licence blocks mid-paragraph, templated
    * sentences, quoted chain-letters.
    *
    * Output per input row: (id, n_tokens, n_dup_spans, n_kept,
    * clean_text) — clean_text is the kept tokens of the normalized
    * (trimmed, lowercased, space-joined) stream, '' when everything is
    * masked or the document is empty.
    *
    * Scale (100 TB): window hashing is ONE narrow per-row loop (no
    * explode before the aggregate's partial side); the global span-df
    * aggregate partial-aggregates map-side so the shuffle carries one
    * (hash, count) per distinct span per partition; duplicated hashes
    * are a corpus-duplication-bounded set that AQE broadcasts back;
    * only DUPLICATED window starts shuffle doc-ward (bounded by dup
    * mass, ≤ len per doc); masking is a row-local HOF over (token,
    * start-list). A suffix array would find variable-length repeats
    * exactly but cannot partial-aggregate — the fixed-w hash-window
    * form is the shape that distributes.
    */
  def maskRepeatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, minCount: Long = 2L): DataFrame = {
    require(w >= 2, s"w must be >= 2, got $w")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val (base, spans) = spanFrames(df, idCol, textCol, w)
    val dup = spans.groupBy(col("__h"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select(col("__h"))
    maskBySpanStarts(base, spans, dup, idCol, w)
  }

  /** (base, spans) frames shared by the batch and incremental span-
    * dedup forms: base = (doc, token array), spans = one (doc, start,
    * window hash) row per length-`w` window. */
  private def spanFrames(
      df: DataFrame, idCol: String, textCol: String, w: Int): (DataFrame, DataFrame) = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val toks = tokens(coalesce(graft.ops.Cleaning.qcol(textCol), lit("")))
    val base = df.select(id.as("__doc"), toks.as("__toks"))
    val spans = base.select(col("__doc"),
      posexplode(graft.functions.Native.spanPolyHashes(col("__toks"), w))
        .as(Seq("__i", "__h")))
    (base, spans)
  }

  /** The masking epilogue: duplicated-hash set → per-doc start lists →
    * row-local token cover filter. */
  private def maskBySpanStarts(
      base: DataFrame, spans: DataFrame, dup: DataFrame,
      idCol: String, w: Int): DataFrame = {
    val starts = spans.join(dup, Seq("__h"))
      .groupBy(col("__doc"))
      .agg(sort_array(collect_list(col("__i"))).as("__starts"),
        count(lit(1)).as("__nds"))
    val kept = filter(
      transform(col("__toks"), (t, i) => struct(t.as("t"), i.as("i"))),
      s => !exists(col("__starts"),
        st => st <= s.getField("i") && s.getField("i") < st + w))
    base.join(starts, Seq("__doc"), "left")
      .withColumn("__starts", coalesce(col("__starts"), array().cast("array<int>")))
      .select(
        col("__doc").as(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        coalesce(col("__nds"), lit(0L)).as("n_dup_spans"),
        size(kept).cast("long").as("n_kept"),
        concat_ws(" ", transform(kept, s => s.getField("t"))).as("clean_text"))
  }

  /** Span-frequency index over an accepted corpus: (span_hash, n) —
    * the persisted state of the incremental span-dedup loop (same
    * probe-and-grow pattern as the MinHash band index,
    * [[graft.scale.Dedup.minhashBandIndex]]). A wave grows it by
    * union with the wave's own index, summing `n` per `span_hash`.
    */
  def spanIndex(
      df: DataFrame, idCol: String, textCol: String, w: Int = 8): DataFrame = {
    require(w >= 2, s"w must be >= 2, got $w")
    val (_, spans) = spanFrames(df, idCol, textCol, w)
    spans.groupBy(col("__h").as("span_hash"))
      .agg(count(lit(1)).as("n"))
      .select(col("span_hash"), col("n"))
  }

  /** Incremental [[maskRepeatedSpans]]: a new delivery is masked
    * against the combined span frequency of the batch itself AND a
    * persisted [[spanIndex]] — a span repeated across waves masks even
    * when each wave saw it once. With an empty index this equals the
    * batch form exactly (spec-asserted).
    *
    * Scale: the batch span aggregate is batch-sized; the index join is
    * span-hash-keyed (the index side prunes to hashes the batch
    * actually contains via the join itself); everything downstream is
    * the batch-sized masking epilogue. The index never rescans old
    * corpus text — the point of persisting counts, not documents.
    */
  def maskRepeatedSpansAgainstIndex(
      batch: DataFrame, index: DataFrame, idCol: String, textCol: String,
      w: Int = 8, minCount: Long = 2L): DataFrame = {
    require(w >= 2, s"w must be >= 2, got $w")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val (base, spans) = spanFrames(batch, idCol, textCol, w)
    val dup = spans.groupBy(col("__h"))
      .agg(count(lit(1)).as("__bc"))
      .join(index.select(col("span_hash").as("__h"), col("n").as("__ic")),
        Seq("__h"), "left")
      .filter(col("__bc") + coalesce(col("__ic"), lit(0L)) >= minCount)
      .select(col("__h"))
    maskBySpanStarts(base, spans, dup, idCol, w)
  }

  /** One learned BPE merge: `left`+`right` → `left+right`, with the
    * pair's occurrence count at the step it was learned. */
  final case class BpeMerge(rank: Int, left: String, right: String, pairCount: Long)

  /** Internal BPE word representation: every current unit of a word
    * wrapped in `|` bars — `"abc"` → `"|a||b||c|"`. Merging pair (a,b)
    * is then `replace(rep, "|a||b|", "|ab|")`: `replace` scans left to
    * right non-overlapping in Spark AND DuckDB, which is exactly BPE's
    * leftmost-first greedy application, and adjacent matches never
    * share characters (each unit owns its bars). `|` itself is
    * stripped from the input ([[bpeInit]]) so a unit can never contain
    * the delimiter.
    */
  private def bpeInit(text: Column): Column =
    transform(tokens(regexp_replace(text, "\\|", "")),
      w => regexp_replace(w, "(.)", "|$1|"))

  private def bpeUnits(rep: Column): Column = split(trim(rep, "|"), "\\|\\|")

  private def bpeApply(reps: Column, left: String, right: String): Column =
    transform(reps, r =>
      regexp_replace(r, // literal replace via quoted regex (see scaladoc)
        java.util.regex.Pattern.quote(s"|$left||$right|"),
        java.util.regex.Matcher.quoteReplacement(s"|$left$right|")))

  /** Byte-pair-encoding vocabulary training — the "learn the tokenizer
    * from the corpus" step of an LLM data pipeline (Sennrich et al.
    * 2016). Standard word-internal BPE: words pre-tokenize on
    * whitespace ([[tokens]]), every word starts as its character
    * sequence, and each of `merges` rounds (1) counts ADJACENT unit
    * pairs across all word occurrences, (2) picks the most frequent
    * pair — ties broken (count desc, left asc, right asc), so the
    * learned table is deterministic and engine-replayable — and
    * (3) rewrites every occurrence leftmost-first. Stops early if no
    * pair occurs twice.
    *
    * Scale: each round is ONE explode→hash-aggregate over the corpus
    * (map-side partials; shuffle carries (pair, count)) plus a 1-ROW
    * driver argmax (`orderBy.limit(1)` = TakeOrdered, never a global
    * sort) — the driver holds the merge table (`merges` rows), nothing
    * corpus-sized. The evolving representation is persisted per round
    * and the previous round released, so round i+1 re-scans cached
    * unit arrays, not the raw text re-merged i times. Production BPE
    * fits on a SAMPLE (a few GB of text bounds the pair statistics);
    * pass a pre-sampled frame for the 100 TB corpus.
    */
  def bpeFit(df: DataFrame, textCol: String, merges: Int): Seq[BpeMerge] = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val out = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var reps = df.select(bpeInit(graft.ops.Cleaning.qcol(textCol)).as("__reps"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var step = 0
      var done = false
      while (step < merges && !done) {
        val units = reps.select(explode(col("__reps")).as("__r"))
          .select(bpeUnits(col("__r")).as("__u"))
        // guarded: sequence(0, -1) would DESCEND, not return empty
        val adjacent = when(size(col("__u")) >= 2,
          transform(sequence(lit(0), size(col("__u")) - 2),
            i => struct(element_at(col("__u"), i + 1).as("l"),
              element_at(col("__u"), i + 2).as("r"))))
          .otherwise(array().cast("array<struct<l:string,r:string>>"))
        val best = units
          .select(explode(adjacent).as("__p"))
          .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
          .agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), asc("l"), asc("r"))
          .limit(1).collect()
        if (best.isEmpty || best(0).getLong(2) < 2L) done = true
        else {
          val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          out += BpeMerge(step, l, r, c)
          val next = reps.select(bpeApply(col("__reps"), l, r).as("__reps"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          next.count() // materialize before releasing the parent
          reps.unpersist()
          reps = next
          step += 1
        }
      }
      out.toSeq
    } finally reps.unpersist()
  }

  /** [[bpeFit]] through the classic word-histogram route (Sennrich's
    * fast fit): aggregate the corpus ONCE into (word representation,
    * occurrence count) — words are pre-tokenized independently, so the
    * pair statistics of every round are a weighted sum over DISTINCT
    * words — then run the merge loop driver-locally over that bounded
    * table. Merge-for-merge IDENTICAL to the distributed fit: the
    * per-round pair counts are the same sums, the argmax uses the same
    * (count desc, left, right) order with Spark/DuckDB's binary UTF-8
    * string comparison (NOT Java's UTF-16 order — they diverge above
    * U+7FFF), the `replace` application per distinct rep is the same
    * leftmost-first literal scan, and reps that collide after a merge
    * combine their counts exactly as the corpus rows always did.
    * BpeFitFastSpec pins fast ≡ distributed on randomized corpora.
    *
    * Cost: ONE explode→hash-aggregate + a `maxWords`-bounded
    * TakeOrdered collect, then O(distinct words × word length) per
    * round ON THE DRIVER — versus one full corpus aggregate PER ROUND
    * distributed. This is how production tokenizer training runs (a
    * 100 TB corpus has ~10^7-10^8 distinct frequent words; vocab
    * statistics saturate far below that). When the corpus has MORE
    * distinct word reps than `maxWords`, truncating the histogram
    * would silently change the learned table, so the call falls back
    * to the exact distributed [[bpeFit]] instead — same
    * route-only-when-provably-identical contract as
    * [[graft.ops.Stats.weightedQuantileAuto]].
    */
  def bpeFitFast(
      df: DataFrame, textCol: String, merges: Int,
      maxWords: Int = 1 << 20): Seq[BpeMerge] = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    // top-(maxWords+1) by (count desc, rep asc): deterministic, and one
    // extra row detects histogram overflow without a second aggregate
    val repCounts = df
      .select(explode(bpeInit(graft.ops.Cleaning.qcol(textCol))).as("__r"))
      .groupBy(col("__r")).agg(count(lit(1)).as("__c"))
      .orderBy(desc("__c"), asc("__r"))
      .limit(maxWords + 1)
      .collect()
    if (repCounts.length > maxWords) return bpeFit(df, textCol, merges)

    // Spark's asc() on strings is binary UTF-8 order; Java String
    // compareTo is UTF-16 order. Compare like the engine does.
    def binLt(a: String, b: String): Boolean =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0

    var reps = scala.collection.mutable.HashMap.empty[String, Long]
    repCounts.foreach(r => reps.update(r.getString(0), reps.getOrElse(r.getString(0), 0L) + r.getLong(1)))
    val out = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var step = 0
    var done = false
    while (step < merges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      reps.foreach { case (rep, c) =>
        val u = graft.functions.Bpe.splitUnits(rep)
        var i = 0
        while (i < u.length - 1) {
          val k = (u(i), u(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      var best: ((String, String), Long) = null
      counts.foreach { case e @ ((l, r), c) =>
        if (c >= 2L) {
          if (best == null) best = e
          else {
            val ((bl, br), bc) = best
            if (c > bc || (c == bc && (binLt(l, bl) ||
              (l == bl && binLt(r, br))))) best = e
          }
        }
      }
      if (best == null) done = true
      else {
        val ((l, r), c) = best
        out += BpeMerge(step, l, r, c)
        val pat = "|" + l + "||" + r + "|"
        val rep2 = "|" + l + r + "|"
        val next = scala.collection.mutable.HashMap.empty[String, Long]
        reps.foreach { case (rep, cnt) =>
          val nr = rep.replace(pat, rep2)
          next.update(nr, next.getOrElse(nr, 0L) + cnt)
        }
        reps = next
        step += 1
      }
    }
    out.toSeq
  }

  /** Encode with an already-learned merge table and report per-document
    * unit statistics. This is the fit-once / encode-everywhere split:
    * [[bpeFit]] on a sample, `bpeEncode` on the full corpus.
    *
    * The merge application runs in ONE native pass per word
    * ([[graft.functions.Bpe.BpeStats]] — the standard min-rank greedy
    * tokenizer loop, cost independent of vocabulary size) instead of
    * the `merges`-deep nested-replace projection of
    * [[bpeEncodeComposed]], which cannot survive a production 32k-merge
    * vocabulary (janino refuses the expression tree long before that,
    * and each merge is a full regex pass over the corpus). Results are
    * bit-identical — the equivalence argument and its guarded corner
    * cases live in [[graft.functions.Bpe]]'s scaladoc; BpeNativeSpec
    * pins native ≡ composed on the gate vocabulary and on crafted
    * edge-case words.
    *
    * Output: (idCol, n_words, n_units, n_chars) with n_units the
    * post-merge token count — the number a token-budget planner needs.
    */
  def bpeEncode(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[BpeMerge]): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val sorted = merges.sortBy(_.rank)
    val stats = org.apache.spark.sql.GraftBridge.column(
      graft.functions.Bpe.BpeStats(
        org.apache.spark.sql.GraftBridge.expr(graft.ops.Cleaning.qcol(textCol)),
        sorted.map(_.left).toArray, sorted.map(_.right).toArray))
    // epilogue mirrors the composed form's null semantics: null text →
    // null n_words but 0 n_units/n_chars (the coalesce over a null
    // aggregate)
    df.select(id, stats.as("__s"))
      .select(id,
        col("__s.n_words").as("n_words"),
        coalesce(col("__s.n_units"), lit(0L)).as("n_units"),
        coalesce(col("__s.n_chars"), lit(0L)).as("n_chars"))
  }

  /** Tokenizer fertility audit per language — the multilingual-equity
    * check every tokenizer paper reports (e.g. ~`units/word` fertility
    * and `chars/unit` compression): a vocabulary fitted mostly on one
    * language fragments the others into many short units, silently
    * taxing their token budget and training signal. Aggregates
    * [[bpeEncode]]'s per-document stats by the language column:
    * (lang, n_docs, n_words, n_units, n_chars, fertility,
    * chars_per_unit), ratios halfUp 6 on exact long sums — engine-exact.
    *
    * Scale: one narrow native-encode pass + one |langs|-row hash
    * aggregate; the lang join is id-keyed. Nothing scales with vocab.
    */
  def tokenizerFertility(
      df: DataFrame, idCol: String, textCol: String, langCol: String,
      merges: Seq[BpeMerge]): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val enc = bpeEncode(df, idCol, textCol, merges)
    df.select(id,
        coalesce(graft.ops.Cleaning.qcol(langCol).cast("string"), lit("")).as("lang"))
      .join(enc, Seq(idCol))
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_units")).as("n_units"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_units"), col("n_chars"),
        graft.ops.Rounding.halfUp(
          col("n_units").cast("double") / when(col("n_words") > 0, col("n_words")), 6)
          .as("fertility"),
        graft.ops.Rounding.halfUp(
          col("n_chars").cast("double") / when(col("n_units") > 0, col("n_units")), 6)
          .as("chars_per_unit"))
  }

  /** The pre-native encode plan — `merges` nested literal replaces in
    * a single projection. Kept as the executable specification of
    * [[bpeEncode]]'s semantics (it IS the shape the DuckDB oracle
    * unrolls) and as the comparison arm of BpeNativeSpec; do not put it
    * on a real corpus path with a non-toy vocabulary.
    */
  def bpeEncodeComposed(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[BpeMerge]): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val reps = merges.sortBy(_.rank).foldLeft(
      bpeInit(graft.ops.Cleaning.qcol(textCol))) {
      (acc, m) => bpeApply(acc, m.left, m.right)
    }
    df.select(id, reps.as("__reps"))
      .select(id,
        size(col("__reps")).cast("long").as("n_words"),
        coalesce(aggregate(transform(col("__reps"), r => size(bpeUnits(r))),
          lit(0L), (a, x) => a + x), lit(0L)).as("n_units"),
        coalesce(aggregate(transform(col("__reps"), r => length(r) - size(bpeUnits(r)) * 2),
          lit(0L), (a, x) => a + x.cast("long")), lit(0L)).as("n_chars"))
  }

  /** Per-document flat token list (the final post-merge units of every
    * word, in order) through the same native pass — what a
    * token-id-mapping join consumes. Output: (idCol, tokens). */
  def bpeTokens(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[BpeMerge]): DataFrame = {
    val sorted = merges.sortBy(_.rank)
    val toks = org.apache.spark.sql.GraftBridge.column(
      graft.functions.Bpe.BpeTokens(
        org.apache.spark.sql.GraftBridge.expr(graft.ops.Cleaning.qcol(textCol)),
        sorted.map(_.left).toArray, sorted.map(_.right).toArray))
    df.select(graft.ops.Cleaning.qcol(idCol), toks.as("tokens"))
  }

  /** Vocabulary of the encoded corpus: every DISTINCT output token with
    * a dense id, ordered by binary-UTF-8 token (the engines' shared
    * string order, so the assignment is engine-exact).
    *
    * Boundedness: for terminator-free text every token is a single
    * character or one merge's output, so the vocab is ≤ |alphabet| +
    * |merges| rows. Words containing the line terminators `\s+` does
    * not split on (U+0085/U+2028/U+2029) contribute GLUED multi-
    * code-point units outside that bound — up to one per distinct such
    * word — so the bound is a property of the corpus, not the
    * algorithm. The id assignment therefore runs as a distinct
    * aggregate + `maxVocab`-bounded TakeOrdered (a top-N heap, never a
    * global sort or an unpartitioned window) and FAILS LOUDLY when the
    * corpus exceeds `maxVocab` distinct tokens, instead of silently
    * funneling a corpus-scale frame through one task. A pipeline
    * hitting the guard strips those terminator code points in its
    * normalization pass (the usual CCNet/C4 hygiene) rather than
    * raising the cap.
    */
  def bpeVocab(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[BpeMerge], maxVocab: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val toks = bpeTokens(df, idCol, textCol, merges)
      .select(explode(col("tokens")).as("token")).distinct()
      .orderBy(col("token")).limit(maxVocab + 1)
      .collect().map(_.getString(0))
    require(toks.length <= maxVocab,
      s"vocabulary exceeds maxVocab=$maxVocab distinct tokens — the corpus " +
        "likely contains unnormalized line-terminator code points " +
        "(U+0085/U+2028/U+2029) gluing per-word units; strip them in " +
        "normalization or raise maxVocab")
    toks.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toSeq
      .toDF("token", "token_id")
  }

  /** The id stream a trainer actually consumes: (idCol, pos, token_id)
    * — [[bpeTokens]] with a DRIVER-HELD vocabulary applied as a literal
    * map lookup (vocab is bounded by |alphabet| + |merges|, so it ships
    * inside the codegen'd expression; no join, no shuffle, ONE encode
    * pass over the corpus). fit → vocab → ids is the complete
    * tokenizer path; the vocab is a fit-once model artifact — derive
    * it once ([[bpeVocab]] + collect, or a persisted copy) and reuse
    * it across id-stream queries, exactly like the classifier/BPE
    * caches. Tokens absent from the vocabulary map to null (cannot
    * happen when the vocab came from the same immutable corpus).
    */
  def bpeIdsWithVocab(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[BpeMerge], vocab: Map[String, Long]): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    bpeTokens(df, idCol, textCol, merges)
      .select(id, posexplode(col("tokens")).as(Seq("pos", "token")))
      .select(id, col("pos").cast("long").as("pos"),
        element_at(typedLit(vocab), col("token")).as("token_id"))
  }

  /** Tokenizer round-trip audit: DECODE the id stream back to text and
    * verify it reproduces the encoder's input — the e2e integrity gate
    * a tokenization pipeline runs before shipping an id-stream corpus
    * (it catches vocab/id-table drift, OOV holes, and truncation bugs
    * that per-stage checks miss, because it exercises
    * encode → vocab → ids → reverse-vocab → decode as one path).
    *
    * Decode is the real inverse: [[bpeIdsWithVocab]]'s (id, pos,
    * token_id) rows map back through the REVERSED vocab (a driver-held
    * literal map, like the forward lookup), are gathered per document
    * in position order, and concatenated. BPE merges only ever
    * concatenate characters, so a lossless document satisfies
    * decode(ids) == its whitespace-stripped normalized text
    * (lowercase, `|` pre-stripped, every `\s+` run removed — word
    * boundaries are not representable in this marker-free token
    * stream, which is exactly what the audit documents). An id that
    * misses the reverse vocab decodes to a DROPPED token (null skipped
    * by the join), so any corruption surfaces as lossless = false
    * rather than a throw — an audit reports, it does not crash the
    * pipeline.
    *
    * Scale: one encode pass (the id stream), one per-document gather
    * (hash aggregate keyed by the document id; the collected struct
    * list is doc-sized — the span-corruption bound), a broadcast-sized
    * reverse vocab riding inside the expression, then a |slices|-group
    * summary. Nothing corpus-scale sorts or collects.
    */
  def bpeDecodeAudit(
      df: DataFrame, idCol: String, textCol: String, sliceCol: String,
      merges: Seq[BpeMerge], vocab: Map[String, Long]): DataFrame = {
    val inv: Map[Long, String] = vocab.map(_.swap)
    require(inv.size == vocab.size,
      "vocab must be injective (duplicate token_id) — decode would be ambiguous")
    val id = graft.ops.Cleaning.qcol(idCol)
    val dec = bpeIdsWithVocab(df, idCol, textCol, merges, vocab)
      .groupBy(id.as("__id"))
      .agg(
        count(lit(1)).as("__nt"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"),
              element_at(typedLit(inv), col("token_id")).as("tok")))),
            x => x.getField("tok")),
          "").as("__dec"))
    // what encode saw, word boundaries removed: bpeInit strips '|',
    // tokens() lowercases and splits \s+, decode concatenates units
    val ref = regexp_replace(
      lower(regexp_replace(graft.ops.Cleaning.qcol(textCol), "\\|", "")),
      "\\s+", "")
    df.select(id.as("__id"),
        graft.ops.Cleaning.qcol(sliceCol).cast("string").as("slice"),
        ref.as("__ref"))
      .join(dec, Seq("__id"), "left")
      .groupBy(col("slice"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(coalesce(col("__dec"), lit("")) === col("__ref"), 1L)
          .otherwise(0L)).as("n_lossless"),
        sum(coalesce(col("__nt"), lit(0L))).as("n_tokens"),
        sum(length(col("__ref")).cast("long")).as("n_chars"))
  }

  /** Composed-plan image of [[bpeTokens]] for the parity spec: flatten
    * the per-word unit arrays of the nested-replace representation. */
  private[graft] def bpeTokensComposed(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[BpeMerge]): DataFrame = {
    val reps = merges.sortBy(_.rank).foldLeft(
      bpeInit(graft.ops.Cleaning.qcol(textCol))) {
      (acc, m) => bpeApply(acc, m.left, m.right)
    }
    df.select(graft.ops.Cleaning.qcol(idCol),
      flatten(transform(reps, r => bpeUnits(r))).as("tokens"))
  }

  /** One-call corpus-preparation pipeline — the standard training-data
    * recipe as a single composition:
    *   1. quality filter (length/punctuation thresholds, `qualityTable`)
    *   2. language filter (`langIdTable` prediction ∈ allowedLangs)
    *   3. near-dup dedup on the survivors (n-gram Jaccard pairs →
    *      connected components → keep the min-id representative)
    * Returns the surviving rows with all original columns. Every stage
    * is a narrow map or bucket-local join (SCALE.md §4/§5); nothing here
    * caps at corpus size.
    */
  def cleanCorpus(
      df: DataFrame, idCol: String, textCol: String,
      allowedLangs: Seq[String],
      k: Int = 3, threshold: Double = 0.2,
      maxBlockSize: Int = 4096): DataFrame = {
    // both filters are pure row-local expressions: ONE narrow pass over
    // the corpus, no id-list joins. Persisted because the dedup stage
    // scans the survivor set several times (both self-join sides, the
    // component-label init, the final semi-join) while clusters() runs
    // its convergence actions — and RELEASED here as soon as clusters()
    // returns (its result is an eager lineage-free snapshot, so nothing
    // downstream still depends on the cache). The returned plan then
    // recomputes the filter pass once at the caller's action: one
    // narrow codegen'd scan, which is cheaper than pinning a
    // corpus-sized cache with no release path (r3 leaked it; measured
    // as multi-second drag on every later query sharing the JVM).
    val t = graft.ops.Cleaning.qcol(textCol)
    val survivors = df.filter(qualityKeep(t) && langId(t).isin(allowedLangs: _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = Dedup.nearDupNgram(survivors, idCol, textCol, k, threshold, maxBlockSize)
      // anti-join on the DROP set (non-representatives): bounded by the
      // duplicate mass and — in the driver-CC path — a broadcast local
      // relation, so the returned plan scans the corpus ONCE per action
      // (the clusters()-semi-join form embedded the survivor subplan a
      // second time inside the labels frame)
      survivors.join(
        Dedup.nonRepresentatives(pairs).select(col("id").as(idCol)),
        Seq(idCol), "left_anti")
    } finally survivors.unpersist()
  }
}
