package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The curation pipeline's last mile: clean → mix → split →
  * shard-packed manifest. Each stage is an already-verified operator
  * ([[TextAnalysis.cleanCorpus]], [[Sampling.sampleByTemperature]],
  * [[Sampling.splitAssign]], [[TextAnalysis.packSequences]]); this is
  * the composition a training-data pipeline actually runs end-to-end,
  * exposed so callers don't hand-wire the stage contracts (split BEFORE
  * pack, pack partitioned BY split) themselves.
  *
  * Output: one row per surviving document —
  * (id, split, metaCols…, shard, token_count, pack_id, pack_offset) —
  * the manifest a trainer's data loader consumes.
  *
  * Scale shape (each stage keeps its own contract, see SCALE.md):
  * clean is narrow filters + capped-blocked near-dup + CC; temperature
  * rates are a driver-sized sorted fold joined back as a broadcast
  * frame; split is a row-local affine hash; packing windows partition
  * by (split, shard) — never global — and a pack can never straddle a
  * split boundary (that would leak eval tokens into training packs).
  *
  * Split decorrelation — the contract hand-wired pipelines get wrong:
  * [[Sampling.sampleByTemperature]] keeps exactly the rows whose
  * affine-hash uniform u(id) is below the source's rate, so the
  * survivors' u values all sit in [0, rate) — feeding the SAME id hash
  * to [[Sampling.splitAssign]] would then put every kept document in
  * the first split (val/test empty whenever rate ≤ train fraction).
  * The composition splits on a SECOND affine round of the hash (a full
  * permutation of Z_P — an interval of first-round values scatters
  * across [0, P)), restoring independence between "kept" and "split".
  */
object Curation {

  /** The post-clean stages (mix → split → pack) on an ALREADY-cleaned
    * corpus ([[TextAnalysis.cleanCorpus]] output) — pipelines
    * materialize the cleaned snapshot to storage between stages (the
    * production shape: clean once, consume many times; see
    * SparkEntry's fit-once snapshot cache).
    */
  def curateCleaned(
      clean: DataFrame, idCol: String, textCol: String, sourceCol: String,
      alpha: Double, totalBudget: Long,
      splits: Seq[(String, Double)],
      packBudget: Int = 512, shards: Int = 8,
      metaCols: Seq[String] = Nil): DataFrame = {
    val mixed = Sampling.sampleByTemperature(clean, idCol, textCol, sourceCol, alpha, totalBudget)
    // second-round hash key for the split (see scaladoc); h1 < P so the
    // product stays far under the ANSI long-overflow line
    val id = graft.ops.Cleaning.qcol(idCol)
    val h1 = graft.functions.PortableHash.affineHash(id)
    val split = Sampling.splitAssign(
        mixed.withColumn("__split_key__", h1), "__split_key__", splits)
      .drop("__split_key__")
    // metadata rides through the pack windows (no re-join by id — a
    // join's right side would re-run the whole clean plan a third time)
    TextAnalysis.packSequences(split, idCol, textCol, packBudget, shards,
      extraPartitionCols = Seq("split"), passThroughCols = metaCols)
  }

  /** Curriculum-ordered training layout as ONE call: band the corpus by
    * a quality/difficulty score ([[Sampling.curriculumBands]] — grid-
    * exact deciles, no global sort), then pack each band separately
    * ([[TextAnalysis.packSequences]] with the band in the pack
    * partition) so no training window ever mixes curriculum stages —
    * the trainer consumes packs band by band, easiest to hardest.
    *
    * `scores` carries (idCol, scoreCol) — fit however the pipeline
    * likes (unigram/bigram LM nano-nat longs, classifier micro-units);
    * integer scores keep the banding engine-exact. Documents with a
    * null score (e.g. zero tokens) are dropped, matching
    * [[Sampling.curriculumBands]]' contract.
    *
    * Output: one row per scored document —
    * (idCol, band, passThroughCols…, shard, token_count, pack_id,
    * pack_offset).
    *
    * Scale shape: banding is two tiny aggregates (1 row + ≤`grid`
    * rows, both broadcast back); the band join is id-keyed; packing
    * windows partition by (band, shard) — never global.
    */
  def curriculumPack(
      docs: DataFrame, idCol: String, textCol: String,
      scores: DataFrame, scoreCol: String,
      bands: Int = 10, grid: Int = 1024,
      packBudget: Int = 512, shards: Int = 8,
      passThroughCols: Seq[String] = Nil): DataFrame = {
    val banded = Sampling.curriculumBands(scores, idCol, scoreCol, bands, grid)
    val joined = docs.join(
      banded.select(graft.ops.Cleaning.qcol(idCol), col("band")), Seq(idCol))
    TextAnalysis.packSequences(joined, idCol, textCol, packBudget, shards,
      extraPartitionCols = Seq("band"), passThroughCols = passThroughCols)
  }

  /** Source-mixture concentration report — the one-row "is this corpus
    * dangerously dominated by one source?" audit a mixture review runs
    * before fixing sampling weights: the Gini coefficient and
    * Herfindahl-Hirschman index of per-source TOKEN mass (documents
    * mislead — sources differ 100× in doc length). Gini 0 = perfectly
    * balanced, →1 = one source holds everything; HHI is the
    * squared-share sum regulators use (≥ 0.25 ≈ highly concentrated).
    *
    * Determinism: masses are exact token-count longs; Gini uses the
    * rank identity Σ(2i−n−1)xᵢ = 2Σi·xᵢ − (n+1)Σx over (mass asc,
    * source asc) ranks — tied masses contribute identically under any
    * permutation — so both numerators are exact integer aggregates and
    * each index is one double division, halfUp 6.
    *
    * Scale: one corpus aggregate to |sources| rows, then a window and
    * scalar fold over that CONFIG-SIZED frame (the documented
    * bounded-frame window exception — |sources| is tens, never
    * corpus-sized). Mass squares stay exact longs (order-invariant),
    * with ANSI overflow as the loud guard past ~3e9 tokens in a single
    * source — swap that sum to DECIMAL(38) at that scale.
    */
  def concentrationReport(
      df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val masses = df.groupBy(
        coalesce(graft.ops.Cleaning.qcol(groupCol).cast("string"), lit("")).as("__g"))
      .agg(sum(TextAnalysis.tokenCount(graft.ops.Cleaning.qcol(textCol)))
        .cast("long").as("__x"))
    val ranked = masses.withColumn("__i",
      row_number().over(Window.orderBy(col("__x").asc, col("__g").asc)).cast("long"))
    ranked.agg(
        count(lit(1)).as("__n"), sum(col("__x")).as("__sx"),
        sum(col("__i") * col("__x")).as("__six"),
        // exact long squares: ANSI overflow fails LOUDLY past ~3e9
        // tokens in one source — swap to DECIMAL(38) there, keeping
        // the order-invariant integer sum the hash gate needs
        sum(col("__x") * col("__x")).as("__sxx"))
      .select(
        col("__n").as("n_groups"),
        col("__sx").as("total_tokens"),
        graft.ops.Rounding.halfUp(
          (col("__six") * 2 - (col("__n") + 1) * col("__sx")).cast("double") /
            (col("__n") * col("__sx")).cast("double"), 6).as("gini"),
        graft.ops.Rounding.halfUp(
          col("__sxx").cast("double") /
            (col("__sx").cast("double") * col("__sx").cast("double")), 6)
          .as("hhi"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): split
    * each LANGUAGE's documents into head / middle / tail terciles by LM
    * score — the partition CCNet publishes and downstream corpora
    * sample from (head = most-fluent third under the reference model;
    * tail = the third that usually gets dropped or down-weighted).
    * Scoring is [[TextAnalysis.unigramLogProbTable]]'s exact nano-nat
    * integer (score_nano), so tercile boundaries and bucket membership
    * are engine-exact — no float quantile interpolation.
    *
    * Boundary definition (value-based, tie-stable): t_k is the
    * smallest score whose per-language cumulative count reaches
    * k·n/3 (k = 1, 2); a document buckets `tail` when
    * score ≤ t1, `middle` when t1 < score ≤ t2, else `head`. Ties
    * land on one side by construction — equal scores always share a
    * bucket (the [[graft.ops.Stats.ntileSummary]] convention).
    * Documents with a null score (zero tokens) emit `unscored`.
    *
    * Scale: the boundary pass pre-aggregates to DISTINCT (lang, score)
    * counts first — the per-language cumulative window runs over tie
    * groups, not rows (the s3_wquantile shape) — and the boundary
    * frame is |langs| rows, broadcast back onto a narrow row-local
    * compare. Nothing sorts the corpus.
    */
  def perplexityBuckets(
      docs: DataFrame, idCol: String, textCol: String, langCol: String,
      ref: DataFrame, refTextCol: String, vocabSize: Int = 65536): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val id = graft.ops.Cleaning.qcol(idCol)
    val scored = TextAnalysis.unigramLogProbTable(docs, idCol, textCol,
      ref, refTextCol, vocabSize, scoreNano = true)
    val withLang = docs.select(id,
        coalesce(graft.ops.Cleaning.qcol(langCol).cast("string"), lit("")).as("lang"))
      .join(scored.select(id, col("score_nano")), Seq(idCol))
    val counts = withLang.filter(col("score_nano").isNotNull)
      .groupBy(col("lang"), col("score_nano")).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy("lang").orderBy("score_nano")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("__cum", sum(col("__c")).over(w))
    val tot = counts.groupBy(col("lang")).agg(sum(col("__c")).as("__n"))
    val bounds = cum.join(tot, "lang").groupBy(col("lang")).agg(
      min(when(col("__cum") * 3 >= col("__n"), col("score_nano"))).as("__t1"),
      min(when(col("__cum") * 3 >= col("__n") * 2, col("score_nano"))).as("__t2"))
    withLang.join(broadcast(bounds), Seq("lang"), "left")
      .select(id, col("lang"), col("score_nano"),
        when(col("score_nano").isNull, lit("unscored"))
          .when(col("score_nano") <= col("__t1"), lit("tail"))
          .when(col("score_nano") <= col("__t2"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
  }

  /** Filter-funnel audit — the one-glance read of an ORDERED rule
    * chain before anyone ships it: per rule, how many documents it
    * kills FIRST (first-fail attribution: the rule gets credit only
    * for rows every earlier rule passed), how many it would fail
    * regardless of order (the rule's raw bite — a rule whose
    * first-fail is near zero but raw bite is large is redundant with
    * an earlier rule), and the survivor count after it. The ordering
    * question ("is rule 3 doing anything once rules 1-2 ran?") is
    * exactly what per-rule pass rates can't answer.
    *
    * Rules are existing BOOLEAN columns (true = pass); a NULL rule
    * value FAILS — a rule that cannot evaluate a row must never admit
    * it (the fail-closed convention). Output: one row per rule,
    * ordered — (rule_index, rule, n, n_killed_first, n_failed_any,
    * survivors_after) — plus nothing else; survivors_after of the
    * last row is the corpus the chain admits.
    *
    * Scale: ONE corpus aggregate carrying 2·|rules| conditional sums
    * (the contextFitAudit melt shape — the explode runs on the
    * aggregate row), then a |rules|-row running sum (the config-sized
    * bounded-frame exception). The corpus is scanned once.
    */
  def filterFunnel(df: DataFrame, ruleCols: Seq[String]): DataFrame = {
    require(ruleCols.nonEmpty, "filterFunnel: ruleCols must be non-empty")
    require(ruleCols.distinct.size == ruleCols.size,
      s"filterFunnel: duplicate rules in $ruleCols")
    def pass(c: String) =
      coalesce(graft.ops.Cleaning.qcol(c).cast("boolean"), lit(false))
    val sums = ruleCols.zipWithIndex.flatMap { case (c, i) =>
      val earlierPass = ruleCols.take(i).map(pass)
        .foldLeft(lit(true))(_ && _)
      Seq(
        coalesce(sum(when(earlierPass && !pass(c), 1L)), lit(0L)).as(s"__kf_$i"),
        coalesce(sum(when(!pass(c), 1L)), lit(0L)).as(s"__fa_$i"))
    }
    val aggCols = (count(lit(1)).as("n") +: sums)
    val agg = df.agg(aggCols.head, aggCols.tail: _*)
    val rows = ruleCols.zipWithIndex.map { case (c, i) =>
      struct(lit(i.toLong).as("rule_index"), lit(c).as("rule"),
        col(s"__kf_$i").as("n_killed_first"), col(s"__fa_$i").as("n_failed_any"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rule_index"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    agg.select(col("n"), explode(array(rows: _*)).as("__r"))
      .select(col("__r.rule_index").as("rule_index"), col("__r.rule").as("rule"),
        col("n"), col("__r.n_killed_first").as("n_killed_first"),
        col("__r.n_failed_any").as("n_failed_any"))
      .withColumn("survivors_after",
        col("n") - sum(col("n_killed_first")).over(w))
  }
}
