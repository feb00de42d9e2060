package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× scale probe (SCALE.md §6a): unions an sf0.1 table with 9
  * key-shifted copies of itself and times the query at 1× and 10× —
  * the empirical check that a plan's cost grows sub-linearly in data
  * (fixed job overhead still dominating) rather than super-linearly
  * (a hidden single-task funnel or quadratic join).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession(32)

    def times10(df: DataFrame, keyCol: String): DataFrame = {
      val shift = 10000000L
      (0 until 10).map(i =>
        df.withColumn(keyCol, col(keyCol) + lit(i * shift))).reduce(_.unionByName(_))
    }
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[probe] $label%-28s rows=$n%8d time=${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }

    val orders = graft.io.Sources.table(spark, sfDir, "orders")
    def deciles(o: DataFrame): Long = {
      val c = o.withColumn("cents", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
      graft.ops.Stats.bucketSummary(c, "cents", nBuckets = 10).count()
    }
    // warmup then measure twice each
    deciles(orders)
    time("b4_deciles 1x")(deciles(orders))
    time("b4_deciles 1x")(deciles(orders))
    val o10 = times10(orders, "o_orderkey")
    time("b4_deciles 10x")(deciles(o10))
    time("b4_deciles 10x")(deciles(o10))
    // the documented at-scale variant: sketch boundaries, same shape
    time("b4_deciles 10x approx") {
      val c = o10.withColumn("cents", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
      graft.ops.Stats.bucketSummary(c, "cents", nBuckets = 10, exact = false).count()
    }

    val emb = graft.io.Sources.table(spark, sfDir, "embeddings")
    def ivf(corpus: DataFrame, nprobe: Int): Long = {
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.scale.Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", "query_id",
        k = 5, nlist = 16, nprobe = nprobe).count()
    }
    ivf(emb, 4)
    time("x_sim_ivf probe=4 1x")(ivf(emb, 4))
    time("x_sim_ivf probe=16 1x")(ivf(emb, 16))
    val e10 = times10(emb, "vec_id")
    time("x_sim_ivf probe=4 10x")(ivf(e10, 4))
    time("x_sim_ivf probe=4 10x")(ivf(e10, 4))
    time("x_sim_ivf probe=16 10x")(ivf(e10, 16))

    // round-3 curation family: all narrow maps / single hash aggs /
    // shard-partitioned windows — expect ~1× at 10× the documents
    val docs = graft.io.Sources.table(spark, sfDir, "documents")
    val d10 = times10(docs, "doc_id")
    def rep(d: DataFrame): Long =
      graft.scale.TextAnalysis.repetitionStats(d, "doc_id", "text").count()
    def pack(d: DataFrame): Long =
      graft.scale.TextAnalysis.packSequences(d, "doc_id", "text", 256, 32).count()
    def mix(d: DataFrame): Long =
      graft.scale.Sampling.sampleByTokenBudget(d, "doc_id", "text", "source",
        Map("src0" -> 500L, "src1" -> 800L, "src5" -> 0L)).count()
    def quant(e: DataFrame): Long =
      graft.scale.Embeddings.quantizeInt8Table(e, "vec_id", "embedding").count()
    def prof(d: DataFrame): Long =
      graft.ops.Stats.profile(d, Seq("lang", "source", "n_chars"), approx = true).count()
    rep(docs); pack(docs); mix(docs); quant(emb); prof(docs)
    time("x_text_repetition 1x")(rep(docs))
    time("x_text_repetition 10x")(rep(d10))
    time("x_text_pack 1x")(pack(docs))
    time("x_text_pack 10x")(pack(d10))
    time("x_corpus_mixture 1x")(mix(docs))
    time("x_corpus_mixture 10x")(mix(d10))
    time("x_emb_quant 1x")(quant(emb))
    time("x_emb_quant 10x")(quant(e10))
    time("s15_profile(approx) 1x")(prof(docs))
    time("s15_profile(approx) 10x")(prof(d10))

    // round-4 curation family end-to-end: cleanCorpus (quality+lang →
    // n-gram near-dup → connected components → representatives), the
    // packed manifest on top of it, and cross-doc contamination stats.
    // The n-gram pair generator blocks on (lenband, first token) with
    // the 4096-row cap — the probe plants HOT-TOKEN SKEW (every doc at
    // 10× starts with "the") so the degenerate block is 10× the corpus:
    // uncapped this is O(n²) in the hot block; capped it must stay ~1×.
    def clean(d: DataFrame): Long =
      graft.scale.TextAnalysis.cleanCorpus(d, "doc_id", "text",
        allowedLangs = Seq("en", "es"), maxBlockSize = 4096).count()
    def manifest(d: DataFrame): Long = {
      val c = graft.scale.TextAnalysis.cleanCorpus(d, "doc_id", "text",
        allowedLangs = Seq("en", "es"), maxBlockSize = 4096)
      graft.scale.TextAnalysis.packSequences(c, "doc_id", "text", budget = 256, shards = 8)
        .join(c.select(col("doc_id"), col("lang"), col("source")), "doc_id").count()
    }
    def contam(d: DataFrame): Long =
      graft.scale.Dedup.crossDocNgramStats(d, "doc_id", "text", k = 8).count()
    val dHot = docs.withColumn("text", concat(lit("the "), col("text")))
    val dHot10 = times10(dHot, "doc_id")
    clean(docs); contam(docs)
    time("x_corpus_clean 1x")(clean(docs))
    time("x_corpus_clean 10x")(clean(d10))
    time("x_corpus_clean hot 1x")(clean(dHot))
    time("x_corpus_clean hot 10x")(clean(dHot10))
    time("x_corpus_manifest 1x")(manifest(docs))
    time("x_corpus_manifest 10x")(manifest(d10))
    time("x_dedup_contam 1x")(contam(docs))
    time("x_dedup_contam 10x")(contam(d10))
    // the raw pair generator on the degenerate corpus: every 10× doc
    // shares t0, so blocks are length-band-sized (≈corpus/10) — capped,
    // the quadratic inside each block is bounded at 4096²/2 per block
    def ngramPairs(d: DataFrame, cap: Int): Long =
      graft.scale.Dedup.nearDupNgram(d, "doc_id", "text", k = 3,
        threshold = 0.5, maxBlockSize = cap).count()
    time("ngram_pairs hot 10x capped")(ngramPairs(dHot10, 4096))

    // round-4b: corpus-wide line dedup. Token-per-line synthesis makes
    // every common token a corpus-wide duplicate line (the hot-line
    // shape); the keeper election is a partial-agg struct-min on the
    // line hash, so 10× data must stay ~1× time — a window over the
    // line key would funnel the "the" line's full row set instead.
    def lined(d: DataFrame): Long =
      graft.scale.TextAnalysis.dedupLines(
        d.withColumn("text", translate(col("text"), " ", "\n")),
        "doc_id", "text").count()
    lined(docs)
    time("x_text_linededup 1x")(lined(docs))
    time("x_text_linededup 10x")(lined(d10))

    // round-4b: PQ encode (narrow map; m ints replace dim floats) and
    // ADC search (query-side tables broadcast, corpus ships codes only)
    val pqm = graft.scale.Pq.fit(emb, "vec_id", "embedding", dim = 64, m = 8, k = 16)
    def pqEnc(e: DataFrame): Long =
      graft.scale.Pq.encode(e, "vec_id", "embedding", pqm).count()
    def pqSearch(e: DataFrame): Long = {
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.scale.Pq.adcTopK(e, q, "vec_id", "embedding", "query_id",
        k = 5, pqm, excludeSelf = true).count()
    }
    pqEnc(emb); pqSearch(emb)
    time("x_emb_pq encode 1x")(pqEnc(emb))
    time("x_emb_pq encode 10x")(pqEnc(e10))
    time("pq_adc_search 1x")(pqSearch(emb))
    time("pq_adc_search 10x")(pqSearch(e10))

    // round-4b: content-defined chunking — narrow native map, so 10×
    // rows ⇒ ~1× wall-clock (scan-bound)
    def cdc(d: DataFrame): Long =
      graft.scale.Dedup.cdcChunkTable(d, "doc_id", "text").count()
    cdc(docs)
    time("x_dedup_cdc 1x")(cdc(docs))
    time("x_dedup_cdc 10x")(cdc(d10))

    // salted join at 10x events: the hot-key spread must hold
    val events = graft.io.Sources.table(spark, sfDir, "events")
    def salted(ev: DataFrame): Long = {
      val totals = ev.groupBy("user_id").agg(count(lit(1)).as("user_events"))
      graft.ops.Skew.saltedJoin(ev.select(col("user_id"), col("event_type")),
        totals, "user_id", 8).count()
    }
    val ev10 = times10(events, "event_id")
    salted(events)
    time("j3_salted_join 1x")(salted(events))
    time("j3_salted_join 10x")(salted(ev10))

    // round-5: IVFADC (cells prune the ADC scan). nprobe=2/8 scores
    // ~1/4 of each 10× cell; full probe is the flat-scan-equivalent
    // upper bound — the gap between the two rows is the pruning win
    def ivfadc(e: DataFrame, nprobe: Int): Long = {
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.scale.Pq.ivfAdcTopK(e, q, "vec_id", "embedding", "query_id",
        k = 5, pqm, nlist = 8, nprobe = nprobe, excludeSelf = true).count()
    }
    ivfadc(emb, 2)
    time("ivfadc probe=2/8 1x")(ivfadc(emb, 2))
    time("ivfadc probe=2/8 10x")(ivfadc(e10, 2))
    time("ivfadc probe=8/8 10x")(ivfadc(e10, 8))

    // round-5: incremental minhash — a wave (10% of docs) probes the
    // accepted index (the other 90%). The ×10 key-shift makes every
    // wave doc ~9-way duplicated in the index (dup-heavy worst case,
    // like the cleanCorpus probe), so sub-10× time here is sub-linear
    // in the true pair mass
    def incr(d: DataFrame): Long = {
      val batch = d.filter(col("doc_id") % 10 === 0)
      val acc = d.filter(col("doc_id") % 10 =!= 0)
      graft.scale.Dedup.nearDupMinhashAgainstIndex(batch,
        graft.scale.Dedup.minhashBandIndex(acc, "doc_id", "text"),
        graft.scale.Dedup.hashedShingleTable(acc, "doc_id", "text"),
        "doc_id", "text", maxBucketSize = 4096).count()
    }
    incr(docs)
    time("incr_minhash 1x")(incr(docs))
    time("incr_minhash 10x")(incr(d10))

    // round-5: clustered semantic dedup — nlist grows with the corpus
    // (sqrt-n contract), so per-cell quadratic work stays bounded; the
    // ×10 key-shift makes every vector 10-way duplicated (45 pairs per
    // original at threshold 1.0-ish) — a dup-heavy worst case
    def semantic(e: DataFrame, nlist: Int): Long =
      graft.scale.Dedup.semanticDedupPairs(e, "vec_id", "embedding",
        nlist = nlist, threshold = 0.99, maxCellSize = 65536).count()
    semantic(emb, 16)
    time("semantic nlist=16 1x")(semantic(emb, 16))
    time("semantic nlist=48 10x")(semantic(e10, 48))
    spark.stop()
  }
}
