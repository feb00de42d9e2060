package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures the recall of the approximate ANN configurations that the
  * recall-gated queries (x_sim_ivf_probe, x_emb_ivfpq_probe) pin —
  * run at each test SF before choosing a gate threshold, so the pinned
  * constant is measured evidence, not a guess. Measurement tooling
  * only; not part of the engine.
  *
  * Besides the stdout table, every measurement appends one JSON line to
  * `RECALL.jsonl` (committed evidence — recall drift becomes visible
  * across rounds the same way BENCH_FULL.jsonl makes wall-time drift
  * visible). Optional first arg tags the rows (e.g. `r9`); default
  * `adhoc`.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("adhoc")
    def emit(sf: String, probe: String, k: Int, recallV: Double,
        gate: String, floor: Double): Unit = {
      val line = f"""{"tag":"$tag","sf":"$sf","probe":"$probe","k":$k,""" +
        f""""recall":$recallV%.4f,"gate":"$gate","floor":$floor}"""
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("RECALL.jsonl"), line + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case _: Throwable => () }
    }
    val spark = graft.GraftSession(16)

    def recall(approx: DataFrame, exact: DataFrame): Double = {
      val a = approx.select(col("query_id"), col("vec_id"))
      val e = exact.select(col("query_id"), col("vec_id"))
      val hit = e.join(a, Seq("query_id", "vec_id"), "left_semi").count()
      hit.toDouble / e.count()
    }

    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val emb = graft.io.Sources.table(spark, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"))

      val ivfExact = graft.scale.Similarity.knnExact(
        emb, queries, "vec_id", "embedding", "query_id", k = 5)
      // nprobe=4/16 is the EXACT x_sim_ivf_probe gate config — its
      // measured band justifies that gate's pinned floor
      for (nprobe <- Seq(4, 8)) {
        val ivfApprox = graft.scale.Similarity.ivfTopK(
          emb, queries, "vec_id", "embedding", "query_id", k = 5, nlist = 16, nprobe = nprobe)
        val r = recall(ivfApprox, ivfExact)
        println(f"[recall] $sf ivf nprobe=$nprobe/16      $r%.4f")
        if (nprobe == 4) emit(sf, "ivf_nprobe4_16", 5, r, "x_sim_ivf_probe", 0.55)
        else emit(sf, "ivf_nprobe8_16", 5, r, "-", 0.0)
      }

      val model = graft.scale.Pq.syntheticModel(64, m = 8, k = 16, seed = 42L)
      val q2 = emb.filter(col("vec_id") >= 5 && col("vec_id") < 12)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val pqApprox = graft.scale.Pq.ivfAdcTopK(
        emb, q2, "vec_id", "embedding", "query_id", k = 6, model,
        nlist = 8, nprobe = 4, excludeSelf = true)
      val pqExact = graft.scale.Pq.adcTopK(
        emb, q2, "vec_id", "embedding", "query_id", k = 6, model, excludeSelf = true)
      val rPq = recall(pqApprox, pqExact)
      println(f"[recall] $sf ivfadc nprobe=4/8    $rPq%.4f")
      emit(sf, "ivfadc_nprobe4_8", 6, rPq, "x_emb_ivfpq_probe", 0.54)

      // residual vs raw codes, both against the TRUE exact-L2 top-k —
      // the quantization-quality comparison (same index bytes)
      import org.apache.spark.sql.expressions.Window
      val c = emb.select(col("vec_id"), col("embedding").as("cv"))
      val qq = q2.select(col("query_id"), col("embedding").as("qv"))
      val d2 = graft.scale.Similarity.dot(col("cv"), col("cv")) +
        graft.scale.Similarity.dot(col("qv"), col("qv")) -
        lit(2.0) * graft.scale.Similarity.dot(col("cv"), col("qv"))
      val w = Window.partitionBy("query_id").orderBy(asc("d2"), asc("vec_id"))
      val exactL2 = c.crossJoin(broadcast(qq))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"), d2.as("d2"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 6)
      // fitted codebooks (the production path — the synthetic grid
      // model is the oracle config and reconstructs randomly)
      val fitted = graft.scale.Pq.fit(emb, "vec_id", "embedding", dim = 64, m = 8, k = 16)
      def ivfadc(residual: Boolean) = graft.scale.Pq.ivfAdcTopK(
        emb, q2, "vec_id", "embedding", "query_id", k = 6, fitted,
        nlist = 8, nprobe = 4, excludeSelf = true, residual = residual)
      val rRaw = recall(ivfadc(false), exactL2)
      val rRes = recall(ivfadc(true), exactL2)
      println(f"[recall] $sf raw-codes vs exactL2 $rRaw%.4f")
      println(f"[recall] $sf residual  vs exactL2 $rRes%.4f")
      emit(sf, "ivfadc_fitted_raw_vs_l2", 6, rRaw, "-", 0.0)
      emit(sf, "ivfadc_fitted_residual_vs_l2", 6, rRes, "-", 0.0)

      // edit-distance blocking recall: the EXACT x_dedup_editdist
      // config (10-char prefix + lenband + t0 capped blocks, 15%) vs
      // the brute-force all-pairs truth on the same 40-char title view
      // — the corpus-measured counterpart of DedupSpec's planted gate.
      // All-pairs is feasible here (<= 5k titles); the length-diff
      // prune inside the cross join is result-exact (it lower-bounds
      // the edit distance).
      val titles = graft.io.Sources.table(spark, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 40).as("t"))
      val ta = titles.select(col("doc_id").as("id_a"), col("t").as("t_a"))
      val tb = titles.select(col("doc_id").as("id_b"), col("t").as("t_b"))
      val truthPairs = ta.crossJoin(tb)
        .filter(col("id_a") < col("id_b"))
        .filter(abs(length(col("t_a")) - length(col("t_b"))).cast("long") * 100L
          <= lit(15L) * greatest(length(col("t_a")), length(col("t_b"))).cast("long"))
        .filter(levenshtein(col("t_a"), col("t_b")).cast("long") * 100L
          <= lit(15L) * greatest(length(col("t_a")), length(col("t_b"))).cast("long"))
        .select(col("id_a"), col("id_b"))
      val blockedPairs = graft.scale.Dedup.nearDupEditDistance(
        titles.withColumn("pblock", substring(col("t"), 1, 10)),
        "doc_id", "t", maxDistPct = 15, extraBlockCols = Seq("pblock"))
        .select(col("id_a"), col("id_b"))
      val nTruth = truthPairs.count()
      val nHit = truthPairs.join(blockedPairs, Seq("id_a", "id_b"), "left_semi").count()
      val rEd = if (nTruth == 0) 1.0 else nHit.toDouble / nTruth
      println(f"[recall] $sf editdist blocks vs all-pairs $rEd%.4f ($nHit/$nTruth)")
      // measured 1.0000 at all three scales (r11: 28/28, 25/25,
      // 256/256) — the floor leaves headroom for corpus drift
      emit(sf, "editdist_prefix_lenband_t0", 0, rEd, "x_dedup_editdist", 0.95)
    }

    // ---- clustered-fixture recall for the FITTED configs ------------
    // The testdata embeddings are STRUCTURELESS (uniform), so fitted
    // coarse quantizers/codebooks probe near-chance there (r11:
    // 0.095/0.167) — a data property, not a defect. This fixture is
    // the semantic-neighborhood shape real embedding spaces have (512
    // tight clusters of 8: top-k ≈ the cluster siblings); the fitted
    // configs' floors are pinned HERE (and spec-gated in
    // SimilaritySpec/PqSpec), while the structureless rows above stay
    // as the documented contrast. A FEW-huge-clusters shape is the
    // other documented failure mode: with 500-point clusters the exact
    // top-6 ordering lives entirely in within-cluster jitter that
    // 1-byte-per-subspace PQ cannot resolve (measured 0.06 here before
    // the fixture took the many-small-clusters shape).
    {
      val fx = graft.scale.Similarity.clusteredFixture(spark, 4096, 64, 512)
        .localCheckpoint()
      val fq = fx.filter(col("vec_id") < 24)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exactCos = graft.scale.Similarity.knnExact(
        fx, fq, "vec_id", "embedding", "query_id", k = 7)
      val ivfF = graft.scale.Similarity.ivfTopK(
        fx, fq, "vec_id", "embedding", "query_id", k = 7, nlist = 16, nprobe = 4)
      val rIvf = recall(ivfF, exactCos)
      println(f"[recall] fixture ivf nprobe=4/16 clustered   $rIvf%.4f")
      emit("fixture", "ivf_fitted_clustered", 7, rIvf, "SimilaritySpec", 0.85)
      val lshF = graft.scale.Similarity.annTopK(
        fx, fq, "vec_id", "embedding", "query_id", k = 7, bits = 12, tables = 4)
      val rLsh = recall(lshF, exactCos)
      println(f"[recall] fixture lsh 12x4 clustered          $rLsh%.4f")
      emit("fixture", "lsh_fitted_clustered", 7, rLsh, "SimilaritySpec", 0.85)

      import org.apache.spark.sql.expressions.Window
      val c = fx.select(col("vec_id"), col("embedding").as("cv"))
      val qq = fq.select(col("query_id"), col("embedding").as("qv"))
      val d2 = graft.scale.Similarity.dot(col("cv"), col("cv")) +
        graft.scale.Similarity.dot(col("qv"), col("qv")) -
        lit(2.0) * graft.scale.Similarity.dot(col("cv"), col("qv"))
      val w = Window.partitionBy("query_id").orderBy(asc("d2"), asc("vec_id"))
      val exactL2 = c.crossJoin(broadcast(qq))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"), d2.as("d2"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 6)
      val cents = graft.scale.Similarity.fitIvfCentroids(
        fx, "vec_id", "embedding", nlist = 8, normalize = false, dim = 64)
      val fitted = graft.scale.Pq.fit(fx, "vec_id", "embedding", dim = 64, m = 8, k = 16)
      val fittedRes = graft.scale.Pq.fitResidual(
        fx, "vec_id", "embedding", dim = 64, centroids = cents, m = 8, k = 16)
      def ivfadc(model: graft.scale.Pq.Model, residual: Boolean) =
        graft.scale.Pq.ivfAdcTopK(
          fx, fq, "vec_id", "embedding", "query_id", k = 6, model,
          nlist = 8, nprobe = 4, excludeSelf = true, residual = residual,
          centroids0 = Some(cents))
      val rRawF = recall(ivfadc(fitted, residual = false), exactL2)
      // residual encoding with the RESIDUAL-fitted model — the matched
      // pair (a raw-fitted model fed residuals is the documented
      // mismatch; Pq.fitResidual scaladoc)
      val rResF = recall(ivfadc(fittedRes, residual = true), exactL2)
      println(f"[recall] fixture ivfadc raw clustered        $rRawF%.4f")
      println(f"[recall] fixture ivfadc residual clustered   $rResF%.4f")
      emit("fixture", "ivfadc_fitted_raw_clustered", 6, rRawF, "PqSpec", 0.70)
      emit("fixture", "ivfadc_fitted_residual_clustered", 6, rResF, "PqSpec", 0.70)
    }
    spark.stop()
  }
}
