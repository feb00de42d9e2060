package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (SURVEY.md §7.4):
  * brute-force cosine top-k as the exact baseline, random-hyperplane
  * LSH buckets as the approximate scale path.
  *
  * Scale design: brute-force against ONE query vector is a narrow map +
  * TakeOrderedAndProject (per-partition top-k, then a k-sized merge on
  * the driver) — no shuffle of the corpus. The many-query path buckets
  * both sides by LSH key so the join shuffles only bucket-aligned
  * slices instead of the full cross product. Dot products are
  * sequential `aggregate` folds in double precision — deterministic
  * everywhere.
  */
object Similarity {

  /** Hard cap on every coarse-quantizer fit sample (rows collected to
    * the driver), independent of `nlist`: nlist×1000 is the right
    * sample while nlist is small, but a corpus-scaled nlist (the
    * SemDeDup ~sqrt(n) contract) would otherwise grow the collect —
    * and single-threaded Lloyd — without bound. Past the cap each
    * centroid sees fewer sample points (still fine down to ~10/cell);
    * a genuinely huge nlist wants a distributed fit, not a bigger
    * driver. 128k × 64-dim doubles ≈ 67 MB.
    */
  private[scale] val MaxFitSample: Int = 131072

  /** Deterministic CLUSTERED embedding fixture — `nClusters`
    * well-separated integer-hash centroids (components in [−10, 10])
    * with small per-vector jitter ([−0.5, 0.5]), emitted in the
    * testdata embeddings schema (vec_id, embedding float[], label =
    * cluster). This is the recall-evaluation counterpart of
    * [[Pq.syntheticModel]]: coarse quantizers and PQ codebooks carry
    * signal exactly when the data HAS cluster structure, so fitted-ANN
    * recall floors are pinned against this fixture (RecallProbe,
    * SimilaritySpec/PqSpec) — on structureless uniform data (the
    * synthetic testdata embeddings) the same fitted configs retrieve
    * near-chance BY DESIGN, not by defect; see [[ivfTopK]]/[[Pq.fit]].
    *
    * Driver-generated (fixture sizes are probe-sized); the mix64 hash
    * makes it seed-stable across JVMs and engines.
    */
  def clusteredFixture(
      spark: org.apache.spark.sql.SparkSession, n: Int, dim: Int = 64,
      nClusters: Int = 8): DataFrame = {
    require(n > 0 && dim > 0 && nClusters > 0, "clusteredFixture: need n, dim, nClusters > 0")
    import spark.implicits._
    def h(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      (z ^ (z >>> 31)) & 0x7FFFFFFFFFFFFFFFL
    }
    val rows = (0 until n).map { i =>
      val c = i % nClusters
      val vec = Array.tabulate(dim) { j =>
        val centroid = ((h(c.toLong * 7919L + j) % 2001L) - 1000L) / 100.0
        val jitter = ((h(i.toLong * 104729L + j) % 2001L) - 1000L) / 2000.0
        (centroid + jitter).toFloat
      }
      (i.toLong, vec, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  /** Sequential-fold dot product of two float/double arrays (cast to
    * double), via zip_with + aggregate — codegen'd, deterministic order.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity; 0.0 when either vector has zero norm.
    * Native expression (tight loop, same accumulation order as the
    * aggregate-fold form — bit-identical results, ~100× faster than
    * interpreted lambdas on 64-dim vectors).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.Native.cosineSim(a, b)

  /** Exact top-k by cosine against a single query vector.
    * Output: (idCol, similarity), the k most similar corpus rows
    * (excluding exact id match when excludeId is set).
    */
  def topKBruteForce(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, excludeId: Option[Long] = None): DataFrame = {
    val q = lit(query.toArray)
    val base = excludeId.map(i => corpus.filter(graft.ops.Cleaning.qcol(idCol) =!= i)).getOrElse(corpus)
    base
      .select(graft.ops.Cleaning.qcol(idCol), cosine(graft.ops.Cleaning.qcol(vecCol), q).as("similarity"))
      .orderBy(desc("similarity"), asc(idCol))
      .limit(k)
  }

  /** Exact top-k for MANY queries: full cross join + per-query window —
    * the exact baseline the ANN/IVF paths approximate (and the form a
    * recall evaluation compares against). O(|queries| × |corpus|): at
    * scale keep |queries| bounded (a recall sample) or use annTopK /
    * ivfTopK; the cross join broadcasts the query side, so the corpus
    * is never shuffled.
    *
    * @param excludeSelf drop corpus rows whose id equals the query id —
    *        only meaningful when queries are drawn FROM the corpus; set
    *        false for held-out queries whose id namespace is unrelated
    *        (an accidental id collision would silently drop a neighbor)
    */
  def knnExact(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      k: Int = 10, excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(graft.ops.Cleaning.qcol(queryIdCol).as("__qid__"),
      graft.ops.Cleaning.qcol(vecCol).as("__qvec__"))
    val c = corpus.select(graft.ops.Cleaning.qcol(idCol).as("__cid__"),
      graft.ops.Cleaning.qcol(vecCol).as("__cvec__"))
    val joined = c.crossJoin(broadcast(q))
    val scored = (if (excludeSelf) joined.filter(col("__qid__") =!= col("__cid__")) else joined)
      .select(col("__qid__"), col("__cid__"),
        cosine(col("__qvec__"), col("__cvec__")).as("similarity"))
    topKPerQuery(scored, queryIdCol, idCol, k)
  }

  /** Hard-negative mining for contrastive / retrieval training data
    * (DPR, SimCSE, CLIP-style): for each anchor, the top-k most similar
    * corpus vectors whose LABEL differs from the anchor's — the
    * near-miss negatives that carry the training signal (random
    * negatives are trivially separable; same-label neighbors are
    * positives, not negatives). Anchors carry their own label; corpus
    * rows with a NULL label are skipped (unlabeled rows can't be proven
    * negative), as are anchor-id self-matches.
    *
    * Scale: same shape as [[knnExact]] — the anchor side broadcasts
    * (mining runs over a bounded anchor batch per pass), the corpus is
    * scanned once and never shuffled, and the label filter prunes
    * BEFORE scoring; the epilogue is the map-side-bounded top-k
    * aggregate, so shuffle ∝ anchors × k, not anchors × corpus. For
    * anchor batches too large to broadcast, run the ANN route first
    * ([[annTopK]]/[[ivfTopK]] with k', then label-filter and re-rank) —
    * this exact form is the oracle/recall baseline for that path.
    */
  def hardNegatives(
      corpus: DataFrame, anchors: DataFrame,
      idCol: String, vecCol: String, labelCol: String, anchorIdCol: String,
      k: Int = 10): DataFrame = {
    val q = anchors.select(
      graft.ops.Cleaning.qcol(anchorIdCol).as("__qid__"),
      graft.ops.Cleaning.qcol(vecCol).as("__qvec__"),
      graft.ops.Cleaning.qcol(labelCol).as("__qlab__"))
    val c = corpus.select(
      graft.ops.Cleaning.qcol(idCol).as("__cid__"),
      graft.ops.Cleaning.qcol(vecCol).as("__cvec__"),
      graft.ops.Cleaning.qcol(labelCol).as("__clab__"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("__cid__") =!= col("__qid__") &&
        col("__clab__").isNotNull && col("__qlab__").isNotNull &&
        col("__clab__") =!= col("__qlab__"))
      .select(col("__qid__"), col("__cid__"),
        cosine(col("__qvec__"), col("__cvec__")).as("similarity"))
    topKPerQuery(scored, anchorIdCol, idCol, k)
  }

  /** Shared epilogue for every top-k path: per-query top-k with the
    * deterministic (weight desc|asc, id asc) tiebreak — kept in ONE
    * place because the ordering contract is what the oracles pin.
    *
    * Shape: a BoundedTopKDouble AGGREGATE, not a `row_number` window.
    * The window form shuffles EVERY scored candidate of a query into
    * one WindowExec task before discarding all but k — a per-query
    * whole-corpus funnel no AQE skew split can break up (AQE splits
    * skewed join partitions, never windows). The aggregate bounds the
    * work map-side: each partition keeps ≤ k candidates per query, the
    * shuffle carries ≤ k rows per (query × partition), identical result
    * by the same total order. Non-integral id types (no lossless long
    * round-trip) fall back to the window form — the oracle-able test
    * tables and any sane 100 TB corpus key on integral ids.
    */
  private[scale] def topKPerQuery(
      scored: DataFrame, queryIdCol: String, idCol: String, k: Int,
      weightCol: String = "similarity", ascending: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val cidType = scored.schema("__cid__").dataType
    val weight = graft.ops.Cleaning.qcol(weightCol)
    val orderWeight = if (ascending) weight.asc else weight.desc
    cidType match {
      case LongType | IntegerType | ShortType | ByteType =>
        scored
          .groupBy(col("__qid__"))
          .agg(graft.functions.Aggregates.topKByDoubleWeight(
            col("__cid__").cast("long"), weight.cast("double"), k, ascending).as("__tk__"))
          .select(col("__qid__"), posexplode(col("__tk__")).as(Seq("__pos__", "__e__")))
          .select(col("__qid__").as(queryIdCol),
            col("__e__.value").cast(cidType).as(idCol),
            col("__e__.weight").as(weightCol),
            (col("__pos__") + 1).cast("int").as("rank"))
      case _ =>
        // drop null weights AND null ids BEFORE ranking: the aggregate
        // path skips both (update drops a null value or weight), and
        // Spark's asc() would otherwise rank nulls FIRST — null rows
        // stealing the top-k is exactly the divergence this fallback
        // must not have ("identical result by the same total order")
        val w = Window.partitionBy(col("__qid__")).orderBy(orderWeight, asc("__cid__"))
        scored.filter(weight.isNotNull && col("__cid__").isNotNull)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col("__qid__").as(queryIdCol), col("__cid__").as(idCol),
            weight, col("rank"))
    }
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane p is
    * a fixed hash-derived value in [-1, 1). No RNG state — every
    * executor/JVM materializes identical planes from (seed, table, p, j).
    */
  private def hyperplane(seed: Long, table: Int, p: Int, dim: Int): Seq[Double] =
    (0 until dim).map { j =>
      val h = scala.util.hashing.MurmurHash3.productHash((seed, table, p, j))
      (h.toDouble / Int.MaxValue)
    }

  /** Attach `tables` LSH keys per row: sign-bit signature of `bits`
    * hyperplane projections (native expression — one tight loop over
    * all tables×bits planes). Output adds (table, lsh_key) — one row
    * per (input row × table), ready for bucket-joining.
    */
  def withLshKeys(
      df: DataFrame, vecCol: String, bits: Int, tables: Int,
      seed: Long, dim: Int): DataFrame = {
    val planes: Array[Array[Array[Double]]] =
      Array.tabulate(tables, bits)((t, p) => hyperplane(seed, t, p, dim).toArray)
    val keys = graft.functions.Native.hyperplaneLshKeys(graft.ops.Cleaning.qcol(vecCol), planes)
    df.select(
      (df.columns.map(graft.ops.Cleaning.qcol) :+ posexplode(keys).as(Seq("table", "lsh_key"))).toIndexedSeq: _*)
  }

  /** IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
    * partitions the corpus into `nlist` cells; each query probes its
    * `nprobe` nearest centroids and scores exact cosine only within those
    * cells. The classic trade: recall grows with nprobe, cost with
    * corpus/nlist × nprobe.
    *
    * Scale design: centroids are driver-side (nlist ≤ a few thousand) and
    * shipped as literals; the corpus is partitioned by cell id once
    * (shuffle on `nlist` keys); the probe join is cell-id equi-join —
    * no cross product ever materializes.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      k: Int = 10, nlist: Int = 16, nprobe: Int = 4,
      seed: Long = 42L,
      centroids0: Option[Array[Array[Double]]] = None): DataFrame = {
    // L2-normalize so euclidean cells align with cosine order. Native
    // expression (one tight loop; NULL for zero-norm vectors, which
    // carry no direction): the interpreted transform+aggregate HOF pair
    // this replaces was the dominant per-row cost of the corpus pass.
    val normArr = graft.functions.Native.l2Normalize(graft.ops.Cleaning.qcol(vecCol))
    // quantizer: caller-supplied (a persisted model loaded via
    // Models.loadCentroids — fit once, reuse across jobs/waves) or a
    // fresh bounded deterministic fit (see fitIvfCentroids)
    val centroids = centroids0.getOrElse(
      fitIvfCentroids(corpus, idCol, vecCol, nlist, normalize = true, seed = seed))

    // zero-norm corpus/query vectors get a NULL cell key and drop out
    // of the equi-join: a directionless vector is not IVF-indexable
    // (exact kNN scores it 0.0 against everything anyway)
    val cells = corpus
      .withColumn("__cell__",
        graft.functions.Native.nearestCells(normArr, centroids, 1)(0))
      .select(graft.ops.Cleaning.qcol(idCol).as("__cid__"),
        graft.ops.Cleaning.qcol(vecCol).as("__cvec__"), col("__cell__"))

    val probes = queries
      .withColumn("__cell__",
        explode(graft.functions.Native.nearestCells(normArr, centroids, nprobe)))
      .select(graft.ops.Cleaning.qcol(queryIdCol).as("__qid__"),
        graft.ops.Cleaning.qcol(vecCol).as("__qvec__"), col("__cell__"))

    val scored = probes.join(cells, "__cell__")
      .filter(col("__qid__") =!= col("__cid__"))
      .select(col("__qid__"), col("__cid__"),
        cosine(col("__qvec__"), col("__cvec__")).as("similarity"))
    topKPerQuery(scored, queryIdCol, idCol, k)
  }

  /** The coarse-quantizer fit every IVF-family operator shares
    * ([[ivfTopK]], [[Pq.ivfAdcTopK]], [[Dedup.semanticDedupPairs]]):
    * collect a BOUNDED deterministic sample and run seeded Lloyd on the
    * driver. The sample is the nlist×1000 (capped at [[MaxFitSample]])
    * LOWEST values of a seeded hash of the id with id tiebreak — a
    * uniform draw that is partition-layout independent and re-run
    * stable (TakeOrdered: per-partition top-k then a driver merge; a
    * bare limit() would take whichever partitions scheduled first). A
    * distributed KMeans for a driver-sized problem costs ~15 Spark jobs
    * of fixed overhead per fit (measured ~2s locally) and buys nothing:
    * the distributed work — cell assignment and probe scoring — runs on
    * the corpus through one native expression per row.
    *
    * `normalize=true` fits on L2-normalized vectors (cosine geometry —
    * ivfTopK, semantic dedup; zero-norm rows normalize to NULL and drop
    * out: they carry no direction). `normalize=false` fits raw L2
    * (PQ/IVFADC); pass `dim` to exclude malformed rows, as encode would
    * fail loudly on them.
    *
    * PUBLIC so multi-wave pipelines can fit ONCE, persist via
    * [[Models.saveCentroids]], and reuse the loaded model across
    * jobs/waves — at 100 TB the fit is a one-time calibration step, not
    * a per-query cost (the minhash band index already works this way).
    */
  def fitIvfCentroids(
      df: DataFrame, idCol: String, vecCol: String, nlist: Int,
      normalize: Boolean = true, dim: Int = 0,
      iters: Int = 5, seed: Long = 42L): Array[Array[Double]] = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val v = graft.ops.Cleaning.qcol(vecCol)
    val vec =
      if (normalize) graft.functions.Native.l2Normalize(v) else v.cast("array<double>")
    val base = df
      .select(vec.as("__v__"), xxhash64(id, lit(seed)).as("__h__"), id.as("__id__"))
      .filter(col("__v__").isNotNull)
    val shaped = if (dim > 0) base.filter(size(col("__v__")) === dim) else base
    val sample = shaped
      .orderBy(col("__h__"), col("__id__"))
      .limit(math.min(nlist.toLong * 1000L, MaxFitSample.toLong).toInt)
      .collect().map(_.getSeq[Double](0).toArray)
    fitCentroidsLloyd(sample, nlist, iters, seed)
  }

  /** Seeded Lloyd iterations over an in-memory sample (the IVF coarse
    * quantizer). Deterministic: seeded init from sample rows, strict-<
    * argmin keeps the lowest index on ties, empty cells keep their
    * previous centroid.
    */
  private[scale] def fitCentroidsLloyd(
      samples: Array[Array[Double]], k: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    val dim = if (samples.isEmpty) 0 else samples(0).length
    if (samples.isEmpty || dim == 0) return Array.fill(k)(new Array[Double](math.max(dim, 1)))
    val rnd = new scala.util.Random(seed)
    val init = rnd.shuffle(samples.indices.toVector).take(k)
    val cents = Array.tabulate(k)(i => samples(init(i % init.size)).clone)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      samples.foreach { v =>
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0
          var j = 0
          while (j < dim) { val t = v(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { cents(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Approximate top-k for MANY queries at once: LSH-bucket join between
    * queries and corpus (same hyperplanes both sides), exact cosine
    * within buckets, window top-k per query. Recall grows with `tables`.
    *
    * Candidate pairs are deduplicated as BARE ID PAIRS before vectors
    * are fetched back (cf. [[Dedup.nearDupEmbedding]]): the bucket join
    * shuffles 16-byte id pairs, and the cosine runs ONCE per distinct
    * (query, candidate) — at high `tables` the carry-vectors form did
    * up to `tables`× redundant cosine work on every multi-table
    * collision before the dedup aggregate could drop it.
    *
    * EXACT-COLLAPSE prepass (`collapseIdentical`, ON by default):
    * corpus rows with byte-identical vectors collapse to one
    * representative (min id) before the LSH bucket join — every stage
    * (bucketing, candidate dedup, cosine) then runs once per DISTINCT
    * vector, and verified rep results expand back to members. Lossless
    * by a containment argument: results rank by (similarity desc, id
    * asc) and a group's rep id IS its min member id, so any group
    * holding a true top-k member must itself rank within the top-(k+1)
    * groups (k+1, not k: self-exclusion is deferred to after expansion,
    * and at most ONE expanded row per query is the query itself). On a
    * dup-heavy corpus (duplicate documents embed to duplicate vectors)
    * the candidate mass shrinks by the duplication factor; on an
    * all-unique corpus it costs one vector-keyed aggregation.
    */
  def annTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      k: Int = 10, bits: Int = 12, tables: Int = 4,
      seed: Long = 42L, dim: Int = 64,
      collapseIdentical: Boolean = true): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val vec = graft.ops.Cleaning.qcol(vecCol)
    if (collapseIdentical) {
      // null-vector rows never score on the uncollapsed path either
      // (null lsh keys join nothing); dropping them up front is the same
      val groups = corpus.filter(vec.isNotNull)
        .groupBy(vec.as("__gvec__"))
        .agg(min(id).as("__rid__"), sort_array(collect_list(id)).as("__mids__"))
      val reps = groups.select(col("__rid__").as(idCol), col("__gvec__").as(vecCol))
      val repTop = annImpl(reps, queries, idCol, vecCol, queryIdCol,
        k + 1, bits, tables, seed, dim, selfExclude = false)
      // expand each kept group's k+1 smallest member ids (more can never
      // reach the final top-k), drop the query's own row, re-rank
      val mem = groups.select(col("__rid__").as("__r__"),
        slice(col("__mids__"), 1, k + 1).as("__mk__"))
      val scored = repTop
        .select(graft.ops.Cleaning.qcol(queryIdCol).as("__qid__"), id.as("__r__"),
          col("similarity"))
        .join(mem, "__r__")
        .select(col("__qid__"), explode(col("__mk__")).as("__cid__"), col("similarity"))
        .filter(col("__qid__") =!= col("__cid__"))
      topKPerQuery(scored, queryIdCol, idCol, k)
    } else {
      annImpl(corpus, queries, idCol, vecCol, queryIdCol,
        k, bits, tables, seed, dim, selfExclude = true)
    }
  }

  private def annImpl(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      k: Int, bits: Int, tables: Int, seed: Long, dim: Int,
      selfExclude: Boolean): DataFrame = {
    val c = withLshKeys(corpus, vecCol, bits, tables, seed, dim)
      .select(col("table"), col("lsh_key"), graft.ops.Cleaning.qcol(idCol).as("__cid__"))
    val q = withLshKeys(queries, vecCol, bits, tables, seed, dim)
      .select(col("table"), col("lsh_key"), graft.ops.Cleaning.qcol(queryIdCol).as("__qid__"))
    val pairs0 = q.join(c, Seq("table", "lsh_key"))
    val pairs = (if (selfExclude) pairs0.filter(col("__qid__") =!= col("__cid__")) else pairs0)
      .select(col("__qid__"), col("__cid__")).distinct()
    // vectors rejoin by id on both sides — no broadcast HINT: a typical
    // query side is small and AQE broadcasts it from runtime stats, but
    // a million-query batch must be allowed to shuffle-join instead of
    // being forced through the driver
    val qv = queries.select(graft.ops.Cleaning.qcol(queryIdCol).as("__qid__"),
      graft.ops.Cleaning.qcol(vecCol).as("__qvec__"))
    val cv = corpus.select(graft.ops.Cleaning.qcol(idCol).as("__cid__"),
      graft.ops.Cleaning.qcol(vecCol).as("__cvec__"))
    val scored = pairs.join(qv, "__qid__").join(cv, "__cid__")
      .select(col("__qid__"), col("__cid__"),
        cosine(col("__qvec__"), col("__cvec__")).as("similarity"))
    topKPerQuery(scored, queryIdCol, idCol, k)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two per-query
    * top-k candidate lists — THE standard hybrid-retrieval combiner
    * (lexical BM25 + dense ANN, or two parameterizations of one
    * ranker): rrf = Σ_lists 1/(kRrf + rank), summed over the lists
    * that returned the candidate. Rank-based fusion needs no score
    * normalization — the reason it wins in practice: BM25 micros and
    * cosine similarities live on incomparable scales, but their RANKS
    * fuse directly. Candidates missing from a list contribute 0 from
    * it (their rank there is unknown, not last). kRrf = 60 is the
    * published default; smaller values weight top ranks harder.
    *
    * Inputs are (queryIdCol, idCol, `rankCol`) frames as every top-k
    * operator here emits them (rank 1-based, deterministic
    * tie-broken). Output: (queryIdCol, idCol, rank_a, rank_b, rrf)
    * with null rank_x when list x missed the candidate.
    *
    * Determinism: ranks are exact ints and the rrf sum is a 2-term
    * fixed-order expression over them — engines agree bitwise.
    *
    * Scale: both inputs are top-k bounded (≤ k rows per query), so
    * the full-outer join and everything after it is candidate-list
    * sized — the corpus is long gone by fusion time.
    */
  def rrfFuse(
      a: DataFrame, b: DataFrame, queryIdCol: String, idCol: String,
      kRrf: Int = 60, rankCol: String = "rank"): DataFrame = {
    require(kRrf >= 1, s"kRrf must be >= 1, got $kRrf")
    val q = graft.ops.Cleaning.qcol(queryIdCol)
    val id = graft.ops.Cleaning.qcol(idCol)
    val rank = graft.ops.Cleaning.qcol(rankCol).cast("int")
    val ra = a.select(q, id, rank.as("rank_a"))
    val rb = b.select(q, id, rank.as("rank_b"))
    ra.join(rb, Seq(queryIdCol, idCol), "full_outer")
      .select(q, id, col("rank_a"), col("rank_b"),
        (coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("rank_a").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("rank_b").cast("double")), lit(0.0)))
          .as("rrf"))
  }

  /** Cap on the eval set [[semanticContamination]] will broadcast —
    * eval-suite-sized by contract, the same class of bound as
    * [[graft.scale.Dedup.contaminationAgainst]]'s broadcast side. */
  val MaxSemanticEvalRows = 1 << 17

  /** SEMANTIC eval-set decontamination — the embedding-level
    * counterpart of the k-gram [[graft.scale.Dedup.contaminationAgainst]]:
    * a paraphrased benchmark item shares no 5-grams with its source but
    * sits at high cosine, so a lexical decontamination pass alone
    * under-deletes. Per corpus vector: the max cosine against the eval
    * set, the nearest eval item's id, and the `contaminated` flag at
    * `thresholdMicro`. Drop (or quarantine) flagged docs before
    * training; sweep the threshold on a labeled sample first.
    *
    * Exactly-one-aggregate shape: each (corpus, eval) cosine is
    * micro-rounded to a long and PACKED with the eval id —
    * `(cos+1e6)·2³² + (2³¹·2−1 − eval_id)` — so ONE `max` yields both
    * the max similarity and, on ties, the SMALLEST eval id
    * (deterministic in every engine; eval ids must sit in [0, 2³¹),
    * checked loudly). Corpus rows with NULL vectors are dropped (no
    * cosine to take); zero-norm vectors score 0 (the [[cosine]]
    * contract).
    *
    * Scale: the eval side is eval-suite-sized by contract (cap
    * [[MaxSemanticEvalRows]], loud failure) and broadcasts; the
    * corpus-side cost is |corpus|·|eval| narrow cosine folds with
    * map-side partial `max` collapsing to |corpus| rows BEFORE any
    * shuffle — the corpus never moves. For eval suites past the
    * broadcast bound, route through [[ivfTopK]]'s cell blocking with
    * this exact form as its recall baseline (the [[hardNegatives]]
    * convention).
    */
  def semanticContamination(
      corpus: DataFrame, idCol: String, vecCol: String,
      evalSet: DataFrame, evalIdCol: String, evalVecCol: String,
      thresholdMicro: Long): DataFrame = {
    require(thresholdMicro >= -1000000L && thresholdMicro <= 1000000L,
      s"semanticContamination: thresholdMicro must be in [-1e6, 1e6], got $thresholdMicro")
    val id = graft.ops.Cleaning.qcol(idCol)
    val v = graft.ops.Cleaning.qcol(vecCol)
    val eid = graft.ops.Cleaning.qcol(evalIdCol)
    val ev = graft.ops.Cleaning.qcol(evalVecCol)
    val evals = evalSet.filter(eid.isNotNull && ev.isNotNull)
      .select(eid.cast("long").as("__eid"), ev.as("__evec"))
    val bounds = evals.agg(count(lit(1)).as("n"),
      min(col("__eid")).as("lo"), max(col("__eid")).as("hi")).head()
    require(bounds.getLong(0) > 0, "semanticContamination: empty eval set")
    require(bounds.getLong(0) <= MaxSemanticEvalRows,
      s"semanticContamination: eval set has ${bounds.getLong(0)} rows > " +
        s"$MaxSemanticEvalRows — not an eval-suite-sized side; use the IVF route")
    require(bounds.getLong(1) >= 0L && bounds.getLong(2) < (1L << 31),
      s"semanticContamination: eval ids must be in [0, 2^31) for the packed " +
        s"argmax, got [${bounds.getLong(1)}, ${bounds.getLong(2)}]")
    val cm = floor(cosine(v, col("__evec")) * lit(1000000.0) + lit(0.5)).cast("long")
    corpus.filter(v.isNotNull)
      .crossJoin(broadcast(evals))
      .select(id, col("__eid"),
        ((cm + 1000000L) * 4294967296L + (lit(4294967295L) - col("__eid"))).as("__pk"))
      .groupBy(id)
      .agg(max(col("__pk")).as("__pk"))
      .withColumn("max_cos_micro", expr("__pk div 4294967296") - 1000000L)
      .withColumn("nearest_eval_id", lit(4294967295L) - pmod(col("__pk"), lit(4294967296L)))
      .withColumn("contaminated", col("max_cos_micro") >= thresholdMicro)
      .drop("__pk")
  }
}
