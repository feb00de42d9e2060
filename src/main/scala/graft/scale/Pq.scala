package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding columns — the standard
  * memory-bound ANN compression (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011): split each dim-`dim`
  * vector into `m` contiguous subvectors, vector-quantize each subspace
  * against its own `k`-centroid codebook, and represent the vector by
  * its `m` small codes (k=16 → 4 bits/subspace; k=256 → 1 byte).
  *
  * Why this matters at 100 TB: after [[encode]], the corpus side of a
  * similarity-search join carries `m` small ints per row instead of
  * `dim` floats — a 16–64× cut in shuffle/scan volume — and [[adcTopK]]
  * scores candidates from the QUERY's per-subspace distance table
  * (asymmetric distance computation), so corpus vectors are never
  * fetched at all. The codebooks are a driver-sized model (m × k × dsub
  * doubles, a few KB) fitted on a bounded deterministic sample — the
  * same bounded-collect class as [[Similarity.ivfTopK]]'s coarse
  * quantizer — and shipped to executors as literals inside codegen'd
  * expressions: no UDF, no broadcast variable, whole-stage codegen
  * throughout.
  *
  * Determinism/oracle contract: every distance is an explicit
  * LEFT-ASSOCIATIVE chain of `(v_i - c)·(v_i - c)` additions in double
  * precision, and code selection is first-index-of-min over that
  * distance array — an order a SQL oracle reproduces term for term
  * (see SparkEntry's `x_emb_pq*` queries, which pin the machinery with
  * a fixed exact-decimal codebook).
  */
object Pq {

  /** A fitted PQ model: `codebooks(j)(c)` is the `dsub`-dim centroid
    * `c` of subspace `j`. Requires m | dim. */
  final case class Model(dim: Int, m: Int, k: Int, codebooks: Array[Array[Array[Double]]]) {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    require(codebooks.length == m && codebooks.forall(cb => cb.length == k && cb.forall(_.length == dsub)),
      s"codebooks must be m=$m × k=$k × dsub=$dsub")
    def dsub: Int = dim / m
  }

  /** Fit per-subspace codebooks with seeded Lloyd iterations over a
    * bounded deterministic sample — the `k × 1000`-row hash-ordered
    * draw [[Similarity.ivfTopK]] uses for its coarse quantizer (lowest
    * seeded-hash values with id tiebreak: uniform, partition-layout
    * independent, re-run stable). Null vectors are excluded; vectors
    * must all have `dim` elements.
    *
    * Expected recall behavior BY DATA SHAPE (measured, RECALL.jsonl):
    * fitted codebooks carry signal exactly when the embedding space
    * has cluster structure — on [[Similarity.clusteredFixture]]
    * (many tight clusters, the semantic-neighborhood shape of real
    * embeddings) fitted IVFADC measures ~0.85 recall@6 and is
    * spec-gated (PqSpec); on STRUCTURELESS uniform data (the synthetic
    * testdata embeddings) the same configs retrieve near-chance
    * (~0.10–0.17) because no m×k codebook can compress a space with
    * no redundancy — a data property, not a defect, and the reason the
    * exact-equivalence configs (full probe ≡ flat ADC) carry the
    * oracle gates there. A few-huge-clusters shape fails differently:
    * the top-k ordering then lives in within-cluster jitter below the
    * codebook's resolution (measured 0.06 on an 8×500 fixture).
    */
  def fit(
      df: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int = 8, k: Int = 16,
      iters: Int = 5, seed: Long = 42L): Model = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val v = graft.ops.Cleaning.qcol(vecCol)
    val sample = df
      .select(v.cast("array<double>").as("__v__"),
        xxhash64(id, lit(seed)).as("__h__"), id.as("__id__"))
      .filter(col("__v__").isNotNull && size(col("__v__")) === dim)
      .orderBy(col("__h__"), col("__id__")).limit(math.min(k.toLong * 1000L, Similarity.MaxFitSample.toLong).toInt)
      .collect().map(_.getSeq[Double](0).toArray)
    val dsub = dim / m
    val codebooks = Array.tabulate(m) { j =>
      val sub = sample.map(_.slice(j * dsub, (j + 1) * dsub))
      Similarity.fitCentroidsLloyd(sub, k, iters, seed + j)
    }
    Model(dim, m, k, codebooks)
  }

  /** Fit per-subspace codebooks on coarse-quantizer RESIDUALS
    * (x − centroid[cell]) — the model [[ivfAdcTopK]]'s `residual=true`
    * encoding actually calls for: residuals live at the within-cell
    * scale, so codebooks fitted THERE spend all k codes resolving
    * neighbor-scale structure instead of re-describing the cell layout
    * the coarse quantizer already captured (Jégou et al. §V.A). A
    * raw-fitted model fed residual encoding is mismatched — its
    * centroids sit at raw-vector scale, the residuals at the
    * within-cell scale — reconstructing residuals strictly worse
    * (PqSpec gate) and collapsing recall where cells are tight
    * (RecallProbe measured 0.02 vs the matched fit's 0.88 on the
    * clustered fixtures); pass the SAME `centroids` here and as
    * `centroids0` to [[ivfAdcTopK]].
    *
    * Same bounded deterministic sample as [[fit]]; the residual of
    * each sampled vector is taken on the driver against the supplied
    * coarse centroids (driver-sized × driver-sized — free).
    */
  def fitResidual(
      df: DataFrame, idCol: String, vecCol: String,
      dim: Int, centroids: Array[Array[Double]], m: Int = 8, k: Int = 16,
      iters: Int = 5, seed: Long = 42L): Model = {
    require(centroids.nonEmpty && centroids.forall(_.length == dim),
      s"fitResidual: centroids must be $dim-dim")
    val id = graft.ops.Cleaning.qcol(idCol)
    val v = graft.ops.Cleaning.qcol(vecCol)
    val sample = df
      .select(v.cast("array<double>").as("__v__"),
        xxhash64(id, lit(seed)).as("__h__"), id.as("__id__"))
      .filter(col("__v__").isNotNull && size(col("__v__")) === dim)
      .orderBy(col("__h__"), col("__id__"))
      .limit(math.min(k.toLong * 1000L, Similarity.MaxFitSample.toLong).toInt)
      .collect().map(_.getSeq[Double](0).toArray)
    def residual(x: Array[Double]): Array[Double] = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        var d = 0.0; var j = 0
        while (j < dim) { val t = x(j) - centroids(c)(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      Array.tabulate(dim)(j => x(j) - centroids(best)(j))
    }
    val res = sample.map(residual)
    val dsub = dim / m
    val codebooks = Array.tabulate(m) { j =>
      val sub = res.map(_.slice(j * dsub, (j + 1) * dsub))
      Similarity.fitCentroidsLloyd(sub, k, iters, seed + j)
    }
    Model(dim, m, k, codebooks)
  }

  /** Deterministic synthetic codebook on an exact-decimal grid
    * (multiples of 1/64 in [-2, 2), via a splitmix64 stream): every
    * centroid component round-trips exactly through a decimal SQL
    * literal, which is what lets the oracle queries re-derive codes and
    * distances bit-for-bit. The ORACLE configuration of the PQ
    * machinery — production fits with [[fit]].
    */
  def syntheticModel(dim: Int, m: Int = 8, k: Int = 16, seed: Long = 42L): Model = {
    var s = seed
    def next(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val cb = Array.fill(m, k, dim / m)(((next() & 0xFFL) - 128L) / 64.0)
    Model(dim, m, k, cb)
  }

  /** Subspace-j distance list (k squared L2 distances, centroid order)
    * via the native SubspaceDistances expression — sequential
    * (left-associative) accumulation, bit-identical to the unrolled
    * chains the oracle SQL evaluates, at a few expression NODES instead
    * of the ~k×dsub-node tree whose Catalyst analysis/codegen cost
    * dominated wall-clock (15s of planning for the m=8/k=16 search). */
  private def distList(v: Column, j: Int, model: Model): Column =
    graft.functions.Native.subspaceDistances(v, j * model.dsub, model.codebooks(j))

  /** Encode a corpus: one narrow map emitting the `m` PQ codes
    * (`code_0` … 1-based first-index-of-min ints) and the total squared
    * reconstruction error `recon_err` (= Σ_j min-distance_j, rounded to
    * 6 dp for stable cross-engine comparison). At scale this is the
    * write path of a PQ index build: `m` small ints per row replace
    * `dim` floats. Distance lists are materialized as intermediate
    * columns so each is computed once, not re-embedded per consumer.
    * Vectors shorter than `model.dim` fail loudly (index out of
    * bounds) rather than encoding garbage — filter malformed rows
    * first, as [[fit]] does.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String, model: Model,
      keepCols: Seq[String] = Nil): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val v = graft.ops.Cleaning.qcol(vecCol)
    val kept = keepCols.map(col)
    val withDl = df.select(
      (id +: kept) ++ (0 until model.m).map(j => distList(v, j, model).as(s"__dl_$j")): _*)
    val codeCols = (0 until model.m).map(j =>
      array_position(col(s"__dl_$j"), array_min(col(s"__dl_$j"))).as(s"code_$j"))
    val err = graft.ops.Rounding.halfUp(
      (0 until model.m).map(j => array_min(col(s"__dl_$j"))).reduceLeft(_ + _), 6)
      .as("recon_err")
    withDl.select((graft.ops.Cleaning.qcol(idCol) +: kept) ++ codeCols :+ err: _*)
  }

  /** Asymmetric-distance top-k (ADC search): each query computes its
    * per-subspace distance table to ALL centroids (one narrow map on
    * the query side — the classic ADC lookup table, k×m doubles per
    * query), the corpus contributes ONLY its codes, and the pair
    * distance is `m` array lookups summed: Σ_j table_j[code_j] =
    * ‖q − reconstruction(x)‖². No corpus vector is ever fetched or
    * shuffled — the query side broadcasts (queries ≪ corpus by
    * contract, as in [[Similarity.topKBruteForce]]) and the result is
    * a per-query top-k via [[Similarity.topKPerQuery]]'s
    * TakeOrdered shape. Ascending distance, id tiebreak; `excludeSelf`
    * drops qid == cid rows (shared id space).
    */
  def adcTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      k: Int, model: Model, excludeSelf: Boolean = false): DataFrame = {
    require(queryIdCol != idCol,
      s"queryIdCol and idCol are both '$idCol' — the output needs distinct " +
        "names (alias the query side, e.g. .as(\"query_id\"), first)")
    val codes = encode(corpus, idCol, vecCol, model)
      .withColumnRenamed(idCol, "__cid__")
    val qv = graft.ops.Cleaning.qcol(vecCol)
    val qtabs = queries.select(
      (graft.ops.Cleaning.qcol(queryIdCol).as("__qid__") +:
        (0 until model.m).map(j => distList(qv, j, model).as(s"__dl_$j"))): _*)
    val dist = (0 until model.m)
      .map(j => element_at(col(s"__dl_$j"), col(s"code_$j").cast("int")))
      .reduceLeft(_ + _)
    val scored0 = broadcast(qtabs).crossJoin(codes)
    val scored = (if (excludeSelf) scored0.filter(col("__qid__") =!= col("__cid__")) else scored0)
      .select(col("__qid__"), col("__cid__"),
        graft.ops.Rounding.halfUp(dist, 6).as("adc_dist"))
    // per-query top-k via the shared BoundedTopKDouble epilogue: the
    // linear ADC scan stays fully parallel and each partition forwards
    // at most k candidates per query — no per-query window ever holds
    // the scored corpus in one task (cf. Similarity.topKPerQuery).
    // Ranking is on the ROUNDED distance, ties on candidate id — the
    // exact contract the x_emb_pq_search oracle pins.
    Similarity.topKPerQuery(scored, queryIdCol, idCol, k,
      weightCol = "adc_dist", ascending = true)
  }

  /** IVF-PQ (the IVFADC composition of Jégou et al. §V): a coarse
    * quantizer partitions the corpus into `nlist` cells, every corpus
    * row is stored as its cell id + `m` PQ codes, and a query probes
    * only its `nprobe` nearest cells, ADC-scoring the codes INSIDE
    * those cells — the standard large-corpus ANN index shape, and the
    * composition [[adcTopK]] (flat scan, no pruning) and
    * [[Similarity.ivfTopK]] (cell pruning, full-precision scoring)
    * each only half-provide.
    *
    * At 100 TB this is the path that actually ships: the index is
    * `nlist`-partitionable (cell id = partition key), each row costs
    * `m` bytes + 4, the probe join is a cell-id equi-join (never a
    * cross product), and per-query cost is corpus/nlist × nprobe code
    * lookups. Skewed cells split under AQE like any equi-join.
    *
    * Encoding choice, `residual` (default false):
    *  - `false`: codes quantize the RAW vector. The full-probe
    *    configuration (`nprobe = nlist`) then scores exactly the
    *    flat-ADC distances, so the whole composed machinery — quantizer
    *    fit, cell assignment, probe explode, in-cell ADC, top-k
    *    epilogue — is hash-checkable against [[adcTopK]]'s oracle (the
    *    x_emb_ivfpq gate), while `nprobe < nlist` stays the production
    *    config with a recall gate.
    *  - `true`: codes quantize the RESIDUAL (x − centroid[cell]) — the
    *    classic IVFADC refinement (Jégou et al. §V.A): residuals are
    *    smaller than raw vectors, so the same m×k codebook quantizes
    *    them finer and recall rises for identical index bytes. The
    *    price is cell-coupled tables: a query builds its ADC lookup
    *    table PER PROBED CELL (nprobe × m × k doubles vs m × k) from
    *    (q − centroid[cell]), and the full-probe ≡ flat-ADC oracle
    *    equivalence no longer holds — the gate is PqSpec's
    *    reconstruction check (ADC dist ≡ L2 to centroid + decoded
    *    residual, bit-for-bit) plus the measured recall gain
    *    (RecallProbe).
    * Same bounded-deterministic coarse fit as [[Similarity.ivfTopK]]
    * (seeded-hash TakeOrdered sample + Lloyd) either way.
    */
  def ivfAdcTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      k: Int, model: Model, nlist: Int = 16, nprobe: Int = 4,
      seed: Long = 42L, excludeSelf: Boolean = false,
      residual: Boolean = false,
      centroids0: Option[Array[Array[Double]]] = None): DataFrame = {
    require(queryIdCol != idCol,
      s"queryIdCol and idCol are both '$idCol' — the output needs distinct " +
        "names (alias the query side, e.g. .as(\"query_id\"), first)")
    require(nprobe >= 1 && nprobe <= nlist,
      s"need 1 <= nprobe <= nlist, got nprobe=$nprobe nlist=$nlist")
    val v = graft.ops.Cleaning.qcol(vecCol)
    // coarse quantizer: caller-supplied (a persisted model via
    // Models.loadCentroids — fit once, reuse across waves) or a fresh
    // bounded deterministic raw-L2 fit (Similarity.fitIvfCentroids)
    val centroids = centroids0.getOrElse(Similarity.fitIvfCentroids(
      corpus, idCol, vecCol, nlist, normalize = false, dim = model.dim, seed = seed))
    require(centroids.nonEmpty && centroids.length == nlist,
      s"centroids count ${centroids.length} != nlist=$nlist")

    // centroid lookup as a literal nested array (driver-sized model,
    // shipped inside codegen'd expressions; 1-based element_at)
    def centroidAt(cell: Column): Column =
      element_at(typedLit(centroids.map(_.toSeq).toSeq), cell + 1)
    def residualOf(vec: Column, cell: Column): Column =
      zip_with(vec.cast("array<double>"), centroidAt(cell), (x, c) => x - c)

    // the index: cell id + m codes per row (the m-bytes-per-vector win;
    // no corpus vector survives past this point). Raw L2 cells — PQ
    // distances are L2, so no normalization (cf. ivfTopK's cosine prep).
    val withCell = corpus.withColumn("__cell__",
      graft.functions.Native.nearestCells(v, centroids, 1)(0))
    val codes = (if (residual)
      encode(withCell.withColumn("__res__", residualOf(v, col("__cell__"))),
        idCol, "__res__", model, keepCols = Seq("__cell__"))
    else
      encode(withCell, idCol, vecCol, model, keepCols = Seq("__cell__")))
      .withColumnRenamed(idCol, "__cid__")

    // query side: ADC lookup tables + nprobe probe cells. Raw codes:
    // ONE m×k table per query, cells exploded after. Residual codes:
    // the table depends on the probed cell (built from q − centroid),
    // so explode first and build nprobe tables per query.
    val qtabs = if (residual) {
      val probes = queries.select(
        graft.ops.Cleaning.qcol(queryIdCol).as("__qid__"),
        graft.ops.Cleaning.qcol(vecCol).as("__qv__"),
        explode(graft.functions.Native.nearestCells(v, centroids, nprobe)).as("__cell__"))
      val qres = residualOf(col("__qv__"), col("__cell__"))
      probes.select(
        (col("__qid__") +: col("__cell__") +:
          (0 until model.m).map(j => distList(qres, j, model).as(s"__dl_$j"))): _*)
    } else queries.select(
      (graft.ops.Cleaning.qcol(queryIdCol).as("__qid__") +:
        explode(graft.functions.Native.nearestCells(v, centroids, nprobe)).as("__cell__") +:
        (0 until model.m).map(j => distList(v, j, model).as(s"__dl_$j"))): _*)
    val dist = (0 until model.m)
      .map(j => element_at(col(s"__dl_$j"), col(s"code_$j").cast("int")))
      .reduceLeft(_ + _)
    // queries broadcast by the same contract as adcTopK; the join key is
    // the cell id, so only same-cell codes are ever scored
    val scored0 = broadcast(qtabs).join(codes, "__cell__")
    val scored = (if (excludeSelf) scored0.filter(col("__qid__") =!= col("__cid__")) else scored0)
      .select(col("__qid__"), col("__cid__"),
        graft.ops.Rounding.halfUp(dist, 6).as("adc_dist"))
    Similarity.topKPerQuery(scored, queryIdCol, idCol, k,
      weightCol = "adc_dist", ascending = true)
  }
}
