package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-column utilities for vector pipelines at scale:
  * symmetric int8 quantization (the standard 4× storage/bandwidth cut
  * for ANN serving) with per-vector reconstruction-quality metrics.
  *
  * Everything is a narrow row-local map over the embedding column —
  * no shuffle, no driver materialization. Arithmetic is double-precision
  * with sequential left-to-right folds, the same evaluation order the
  * DuckDB oracle uses, so results are engine-exact (the same contract
  * `Similarity.dot` relies on).
  */
object Embeddings {

  /** Round-half-up in double precision — identical formula on the
    * oracle side (see Rounding.scala for why `round()` is a trap). */
  private def halfUp(c: Column): Column = floor(c + 0.5)

  /** Embedding hygiene audit per label — run BEFORE any cosine-based
    * pipeline stage: zero-norm vectors poison cosine (the library's
    * zero-guard maps them to similarity 0, silently), ragged
    * dimensions break every fold, and a label whose norms collapse
    * toward 0 usually means a broken encoder batch. Per label:
    * vector count, zero-norm count, DISTINCT dimension count (1 is
    * healthy), and min/mean/max L2 norm.
    *
    * Determinism: each vector's norm is one fixed left-to-right fold
    * (array order), floored to micro units; min/mean/max run on the
    * exact micro longs, so the audit is partition- and engine-exact.
    * One narrow pass + a |labels|-group aggregate.
    */
  def normAudit(
      df: DataFrame, idCol: String, vecCol: String, labelCol: String): DataFrame = {
    val v = graft.ops.Cleaning.qcol(vecCol)
    val normMicro = floor(
      sqrt(aggregate(v, lit(0.0d), (acc, x) =>
        acc + x.cast("double") * x.cast("double"))) * 1e6 + 0.5).cast("long")
    df.filter(v.isNotNull)
      .select(graft.ops.Cleaning.qcol(labelCol).cast("string").as("label"),
        size(v).as("__dim"), normMicro.as("__nm"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        coalesce(sum(when(col("__nm") === 0L, 1L)), lit(0L)).as("n_zero"),
        countDistinct(col("__dim")).as("n_dims_distinct"),
        (min(col("__nm")).cast("double") / 1e6).as("min_norm"),
        graft.ops.Rounding.halfUp(
          sum(col("__nm")).cast("double") / 1e6 / count(lit(1)), 6).as("mean_norm"),
        (max(col("__nm")).cast("double") / 1e6).as("max_norm"))
  }

  /** Deterministic ±1 sign matrix for [[randomProject]] — a seeded
    * 64-bit LCG stepped row-major, so the matrix is a pure function of
    * (dim, outDim, seed) and an oracle re-derives the identical
    * literals from the same call. */
  def projectionSigns(dim: Int, outDim: Int, seed: Long): Array[Array[Int]] = {
    require(dim >= 1 && outDim >= 1, s"bad projection shape ${dim}x$outDim")
    var x = seed
    Array.tabulate(outDim, dim) { (_, _) =>
      x = x * 6364136223846793005L + 1442695040888963407L
      if (((x >>> 33) & 1L) == 0L) 1 else -1
    }
  }

  /** Sparse random projection (Achlioptas ±1 / Johnson-Lindenstrauss):
    * y_j = (Σ_i s_ji · x_i) / √outDim with s ∈ {−1, +1} from
    * [[projectionSigns]] — the cheap dimensionality reduction a
    * pipeline runs before LSH/brute-force similarity when PCA's
    * data-dependent fit isn't worth a training pass: JL guarantees
    * pairwise-distance preservation in expectation for ANY data, the
    * matrix is free, and the transform is data-independent, so
    * incremental batches project identically forever (a PCA refit
    * would silently shift the space under a persisted ANN index).
    *
    * Determinism: each output component is a STATIC left-to-right
    * add/subtract chain over the vector slots (unrolled at plan build
    * — the Morton lesson: no interpreted HOF fold in the hot path),
    * scaled once at the end; float→double widening and ±
    * chains are IEEE-exact, so engines agree bitwise. Output in long
    * format (id, pos, val), one row per projected component; vectors
    * that are null or not exactly `dim` wide are dropped (the fixed-
    * width contract of every consumer downstream).
    *
    * Scale: narrow row-local codegen'd projection — no shuffle, no
    * model state beyond the literal sign matrix riding in the plan.
    */
  def randomProject(
      df: DataFrame, idCol: String, vecCol: String,
      signs: Array[Array[Int]]): DataFrame = {
    val outDim = signs.length
    val dim = signs(0).length
    require(signs.forall(_.length == dim), "ragged sign matrix")
    val id = graft.ops.Cleaning.qcol(idCol)
    val v = graft.ops.Cleaning.qcol(vecCol)
    val inv = 1.0 / math.sqrt(outDim.toDouble)
    // r14 optimization: the ± chain is the native SignedFoldSum kernel —
    // bit-identical association (its scaladoc carries the IEEE argument)
    // evaluated as one tight loop instead of a dim-node expression tree
    // per component, which the interpreter walked per row
    val comps: Seq[Column] = signs.toSeq.map { row =>
      graft.functions.Native.signedFoldSum(v, row) * lit(inv)
    }
    df.filter(v.isNotNull && size(v) === dim)
      .select(id, posexplode(array(comps: _*)).as(Seq("pos", "val")))
      .select(id, col("pos").cast("long").as("pos"), col("val"))
  }

  /** Per-vector symmetric int8 quantization:
    *   scale = max(|v_i|) / 127        (null for the all-zero vector)
    *   q_i   = clamp(halfUp(v_i / scale), -127, 127)
    *   v'_i  = q_i * scale
    * Returns (id, qscale, cos_recon, max_abs_err) — the scale factor
    * plus reconstruction quality: cosine(v, v') and max_i |v_i - v'_i|.
    * Metrics are rounded to 6 dp (`Rounding.halfUp`) for stable
    * cross-engine comparison of the already-engine-exact doubles.
    *
    * The quantized codes themselves are a row-local `transform` away
    * (the clamp inside [[quantizeRecon]]) — this table form emits the
    * scalar columns the driver's oracle can hash (array columns are not
    * hashable by the compare harness).
    */
  def quantizeInt8Table(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val v = graft.ops.Cleaning.qcol(vecCol)
    val maxAbs = array_max(transform(v, x => abs(x.cast("double"))))
    df.select(id, v.as("__v"),
        (when(maxAbs > 0, maxAbs) / 127.0).as("__scale"))
      .withColumn("__recon", quantizeRecon(col("__v"), col("__scale")))
      .select(
        id,
        graft.ops.Rounding.halfUp(col("__scale"), 9).as("qscale"),
        graft.ops.Rounding.halfUp(
          cosineFold(col("__v"), col("__recon")), 6).as("cos_recon"),
        graft.ops.Rounding.halfUp(
          array_max(zip_with(col("__v"), col("__recon"),
            (a, b) => abs(a.cast("double") - b))), 6).as("max_abs_err"))
  }

  /** Dequantized reconstruction v'_i = q_i * scale (as doubles). */
  def quantizeRecon(v: Column, scale: Column): Column =
    transform(v, x =>
      least(greatest(halfUp(x.cast("double") / scale), lit(-127.0)), lit(127.0)) * scale)

  /** Matryoshka truncation (MRL, Kusupati et al. 2022): keep the first
    * `dim` components and L2-renormalize — the storage/latency dial of
    * matryoshka-trained embedding models (a 64-dim prefix of a 768-dim
    * vector is itself a usable embedding). One narrow map; zero-norm
    * prefixes return null (no direction survives the cut). Output:
    * (id, truncated vector, retained norm fraction) — `norm_kept` is
    * ‖prefix‖/‖full‖, the per-row signal of how much the cut lost
    * (≈1 for matryoshka-trained models, lower for plain embeddings).
    * Rows SHORTER than `dim` come back null/null (slice() would
    * silently return the full array at norm_kept = 1.0, masking a
    * misconfigured truncation dim — same malformed-row convention as
    * the zero-norm case).
    */
  def truncateMatryoshka(
      df: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame = {
    require(dim > 0, s"dim must be > 0, got $dim")
    val id = graft.ops.Cleaning.qcol(idCol)
    val v = graft.ops.Cleaning.qcol(vecCol)
    val prefix = slice(v, 1, dim)
    val norm = (c: Column) =>
      sqrt(aggregate(c, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    val longEnough = size(v) >= dim
    df.select(id,
      when(longEnough, graft.functions.Native.l2Normalize(prefix)).as("embedding"),
      when(longEnough, norm(prefix) / when(norm(v) > 0, norm(v))).as("norm_kept"))
  }

  /** Binary quantization: one sign bit per component, packed into
    * ceil(dim/64) longs — 32× smaller than float32, and Hamming
    * distance (xor + popcount) approximates angular distance (the
    * same sign-projection fact hyperplane LSH uses; here the
    * hyperplanes are the coordinate axes, the convention of
    * binary-quantizing vector stores). Bit j of word w is component
    * 64w+j, set iff v > 0 — an exact integer fold the oracle replays.
    * One narrow map.
    */
  def binaryQuantize(v: Column, dim: Int): Column = {
    require(dim > 0, s"dim must be > 0, got $dim")
    val words = (dim + 63) / 64
    val wordCols = (0 until words).map { w =>
      val lo = w * 64
      val n = math.min(64, dim - lo)
      // Σ 2^j over positive components — distinct powers, so the sum
      // is exact and can never overflow (≤ -1 even with bit 63 set)
      val powers = Array.tabulate(n)(j => 1L << j)
      aggregate(
        zip_with(slice(v, lo + 1, n), typedLit(powers.toSeq),
          (x, p) => when(x.cast("double") > 0, p).otherwise(0L)),
        lit(0L), (acc, b) => acc + b)
    }
    array(wordCols: _*)
  }

  /** Hamming distance between two packed sign-bit arrays. */
  def hammingPacked(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, c) => acc + c)

  /** Per-query top-k by packed-bit Hamming distance — brute force over
    * the packed corpus (the binary-quantization serving shape: the
    * scan reads ceil(dim/64) longs per row instead of dim floats; the
    * epilogue is the same bounded aggregate as every ANN path, ties on
    * (distance, id)). Output: (queryIdCol, idCol, hamming, rank).
    */
  def hammingTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      k: Int, dim: Int, excludeSelf: Boolean = false): DataFrame = {
    require(queryIdCol != idCol,
      s"queryIdCol and idCol are both '$idCol' — alias the query side first")
    val packedC = corpus.select(graft.ops.Cleaning.qcol(idCol).as("__cid__"),
      binaryQuantize(graft.ops.Cleaning.qcol(vecCol), dim).as("__pc__"))
    val packedQ = queries.select(graft.ops.Cleaning.qcol(queryIdCol).as("__qid__"),
      binaryQuantize(graft.ops.Cleaning.qcol(vecCol), dim).as("__pq__"))
    val scored0 = packedC.crossJoin(broadcast(packedQ))
    val scored = (if (excludeSelf) scored0.filter(col("__qid__") =!= col("__cid__")) else scored0)
      .select(col("__qid__"), col("__cid__"),
        hammingPacked(col("__pc__"), col("__pq__")).cast("double").as("hamming"))
    Similarity.topKPerQuery(scored, queryIdCol, idCol, k,
      weightCol = "hamming", ascending = true)
      .withColumn("hamming", col("hamming").cast("long"))
  }

  /** Cosine via the sequential aggregate fold (not the native
    * expression): the reconstruction side is a derived double array the
    * oracle reproduces element-wise, so both engines must accumulate in
    * the same left-to-right order. Vectors here are 64-dim — three
    * short folds per row, negligible next to the native path's use
    * cases (million-pair verification loops).
    */
  private def cosineFold(a: Column, b: Column): Column = {
    val dt = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, p) => acc + p)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    dt / when(na * nb > 0, na * nb)
  }

  /** Per-group embedding centroid in LONG format — one row per
    * (group, component position): the domain/class centroid every
    * embedding-side curation step starts from (cluster tagging,
    * nearest-domain assignment, drift monitoring between deliveries).
    * Long format because the compare harness (and most sinks) can't
    * hash array columns; callers wanting vectors `collect_list` over
    * pos.
    *
    * Determinism (the scaled-long convention, cf. zscore/unigram):
    * each component rounds HALF-UP to micro-units ONCE, and the
    * per-(group, pos) sum is exact LONG arithmetic — partition-order-
    * invariant and engine-exact; the mean divides the two exact
    * numbers at the end. Overflow bound: |component|·10⁶·rows/group
    * must stay below 2⁶³ (ANSI mode fails loudly, not silently).
    *
    * Scale: posexplode widens to rows × dim, but the (group, pos) hash
    * aggregate's map-side partials collapse each task to |groups| × dim
    * rows before the one shuffle — the word-count shape, nothing
    * scales with corpus × dim past the partial agg. Null vectors and
    * null components contribute nothing (n_vectors counts non-null
    * contributions per position).
    */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val g = graft.ops.Cleaning.qcol(groupCol)
    val v = graft.ops.Cleaning.qcol(vecCol).cast("array<double>")
    df.filter(v.isNotNull)
      .select(g.as("__g"), posexplode(v).as(Seq("pos", "__x")))
      .withColumn("__x6", floor(col("__x") * 1000000.0 + lit(0.5)))
      .groupBy(col("__g"), col("pos"))
      .agg(sum(col("__x6")).as("__s6"), count(col("__x6")).as("n_vectors"))
      .select(col("__g").as(groupCol), col("pos").cast("long").as("pos"),
        (col("__s6").cast("double") / (col("n_vectors").cast("double") * 1000000.0))
          .as("centroid"),
        col("n_vectors"))
  }

  /** Rows-cap for the collected centroid model — |groups| × dim must be
    * driver-sized (the same contract as the PQ codebooks / IVF
    * centroids); a key column passed as the group by mistake must
    * error loudly, not OOM the driver. */
  val MaxCentroidModelRows = 1 << 20

  /** Collected centroid model shared by [[assignToCentroids]] and
    * [[simplifiedSilhouette]]: the totally-ordered group keys, the
    * dense centroid matrix in that order, and the group-key type. All
    * artifact-integrity checks (cap, completeness, contiguity,
    * dimension agreement) live HERE so every consumer fails the same
    * loud way on a broken artifact. `opName` labels the errors. */
  private def collectCentroidModel(
      centroids: DataFrame, groupCol: String, opName: String):
      (Seq[Any], Array[Array[Double]], org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types._
    val g = graft.ops.Cleaning.qcol(groupCol)
    // null groups filter INSIDE the query, before the cap limit — done
    // after, null rows would both eat cap slots (silently truncating
    // real centroid rows) and defeat the loud over-cap guard
    val rows = centroids
      .filter(g.isNotNull)
      .select(g, col("pos"), col("centroid"))
      .limit(MaxCentroidModelRows + 1).collect()
    require(rows.length <= MaxCentroidModelRows,
      s"$opName: centroid model exceeds $MaxCentroidModelRows rows — '$groupCol' is not a group-sized column")
    require(rows.nonEmpty, s"$opName: empty centroid model")
    val gType = centroids.schema(groupCol).dataType
    val byGroup = rows.groupBy(_.get(0))
    val orderedKeys: Seq[Any] = gType match {
      case ByteType | ShortType | IntegerType | LongType =>
        byGroup.keys.toSeq.sortBy(_.asInstanceOf[Number].longValue)
      case StringType => byGroup.keys.toSeq.sortBy(_.asInstanceOf[String])
      case t => throw new IllegalArgumentException(
        s"$opName: group column must be integral or string for a total tie order, got ${t.simpleString}")
    }
    // a partial artifact (interrupted write, hand-filtered frame) must
    // fail loudly here — zero-filling a missing component would score
    // silently wrong (cf. loadCentroids' contiguity check)
    val cents: Array[Array[Double]] = orderedKeys.map { k =>
      val comps = byGroup(k)
      val positions = comps.map(_.getLong(1)).sorted
      require(positions.head == 0L && positions.last == positions.length - 1L &&
          positions.distinct.length == positions.length,
        s"$opName: group '$k' has non-contiguous component positions — not a complete groupCentroids artifact")
      val arr = new Array[Double](positions.length)
      comps.foreach(r => arr(r.getLong(1).toInt) = r.getDouble(2))
      arr
    }.toArray
    val dims = cents.map(_.length).distinct
    require(dims.length == 1,
      s"$opName: groups disagree on dimension (${dims.sorted.mkString(", ")})")
    (orderedKeys, cents, gType)
  }

  /** Nearest-centroid assignment — the E-step / domain tagger pairing
    * [[groupCentroids]]: every vector gets the group of its closest
    * centroid (squared L2, ties to the lowest group key), as a new
    * column. `centroids` is a (groupCol, pos, centroid) frame — fit it
    * with [[groupCentroids]] on labeled data (or load a persisted one)
    * and assign any corpus against it; composing the two over the SAME
    * frame yields the centroid-classifier confusion audit.
    *
    * Scale: the model is collected once (cap [[MaxCentroidModelRows]],
    * loud failure past it) and ships inside a native expression — the
    * corpus pass is one narrow map plus a |groups|-row broadcast join
    * mapping centroid index back to the group key. Null vectors assign
    * null; null group keys are excluded from the model.
    *
    * Determinism: centroid components are the exact engine-invariant
    * [[groupCentroids]] means; the distance fold is left-to-right per
    * [[graft.functions.Native.NearestCells]], so an oracle replaying
    * the same ordered fold agrees bit-for-bit.
    */
  def assignToCentroids(
      df: DataFrame, vecCol: String, centroids: DataFrame,
      groupCol: String, outCol: String = "assigned"): DataFrame = {
    import org.apache.spark.sql.types._
    val (orderedKeys, cents, gType) =
      collectCentroidModel(centroids, groupCol, "assignToCentroids")
    val dim = cents.head.length
    import org.apache.spark.sql.{Row => SRow}
    val mapping = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(orderedKeys.zipWithIndex.map { case (k, i) => SRow(i, k) }: _*),
      StructType(Seq(StructField("__ci", IntegerType), StructField(outCol, gType))))
    val v = graft.ops.Cleaning.qcol(vecCol)
    // a vector whose length differs from the model dim must error, not
    // be prefix-scored (NearestCells would silently use min(dim, |c|))
    df.filter(assert_true(v.isNull || (size(v) === dim),
        lit(s"assignToCentroids: vector dim != model dim $dim in '$vecCol'")).isNull)
      .withColumn("__ci",
        element_at(graft.functions.Native.nearestCells(v, cents, 1), 1))
      .join(broadcast(mapping), Seq("__ci"), "left")
      .drop("__ci")
  }

  /** Per-group mean-centering audit — the preprocessing check before
    * cosine/IVF work: anisotropic embedding spaces (all vectors
    * sharing a large common component) waste the metric's dynamic
    * range, and centering per group removes exactly the shared
    * component. Reports, per group, the mean squared norm BEFORE and
    * AFTER subtracting the group's per-dimension mean — the gap is the
    * energy the common component held (with exact means,
    * ss_before − ss_after = n·‖mean‖²; the integer-div mean perturbs
    * that identity by at most one micro unit per dimension).
    *
    * Exact integer replay: elements are half-up micro longs, the
    * per-dimension mean is integer `div`, and both sums of squares are
    * exact long arithmetic — engines agree bitwise. Overflow bound:
    * Σ vm² ≤ n·dim·(max|v|·1e6)² needs n·dim ≲ 9e6 at |v| ≤ 1 — past
    * that, run per partition-sized group or rescale (documented, the
    * moment-sum contract of `Stats.groupTrend`).
    *
    * Scale: one posexplode (narrow), one (group, dim) aggregate to
    * |groups|·dim rows broadcast back, one final |groups|-row
    * aggregate. Vectors shuffle as (group, pos, element) longs — never
    * as arrays.
    */
  def centerAudit(
      df: DataFrame, idCol: String, vecCol: String, groupCol: String): DataFrame = {
    import graft.ops.Cleaning.qcol
    val e = df
      .filter(qcol(vecCol).isNotNull && qcol(groupCol).isNotNull)
      .select(qcol(idCol).as("id"), qcol(groupCol).as("grp"),
        posexplode(qcol(vecCol)).as(Seq("pos", "v")))
      .withColumn("vm",
        floor(col("v").cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))
    val means = e.groupBy(col("grp"), col("pos"))
      .agg(sum(col("vm")).as("s"), count(lit(1)).as("cnt"))
      .withColumn("mean_micro", expr("s div cnt"))
      .select(col("grp"), col("pos"), col("mean_micro"))
    e.join(broadcast(means), Seq("grp", "pos"))
      .groupBy(col("grp"))
      .agg(
        countDistinct(col("id")).as("n_vecs"),
        sum(col("vm") * col("vm")).as("ss_before"),
        sum((col("vm") - col("mean_micro")) * (col("vm") - col("mean_micro")))
          .as("ss_after"))
      .withColumn("mean_ss_before", expr("ss_before div n_vecs"))
      .withColumn("mean_ss_after", expr("ss_after div n_vecs"))
      .withColumn("shift_micro2", col("ss_before") - col("ss_after"))
      .select(col("grp"), col("n_vecs"), col("mean_ss_before"),
        col("mean_ss_after"), col("shift_micro2"))
  }

  /** Per-group centroid DRIFT between two embedding snapshots — the
    * embedding-space stability audit a pipeline runs before trusting
    * vectors produced at different times (a re-embedded corpus, an
    * encoder version bump, a quantization change): per group key, the
    * L2 distance between the two snapshots' [[groupCentroids]] and
    * their cosine, in exact micro. A persisted ANN index or centroid
    * classifier fit on snapshot A scores snapshot B only if drift is
    * near zero — this is the check that says so BEFORE recall decays
    * silently (the randomProject scaladoc's refit hazard, measured).
    *
    * Groups present in only one snapshot emit with NULL drift (a
    * vanished/new group is its own signal, kept in-band). Determinism:
    * centroid components are the exact engine-invariant
    * [[groupCentroids]] means; distance/cosine are the standard
    * left-to-right folds over the component lattice, micro-rounded.
    *
    * Dim mismatch (the encoder-version-bump case this audit exists
    * for): when the two snapshots' embedding dims differ, positions
    * present on only one side are treated as 0 on the other for BOTH
    * metrics — the missing component contributes its full magnitude
    * to the L2 sum and zero to the dot product, so distance and
    * cosine agree on what "missing" means. The per-side dims ship as
    * `dim_a`/`dim_b` so the mismatch is visible in-band rather than
    * silently folded into the drift number.
    *
    * Scale: two (group, pos) centroid aggregates (each one corpus
    * scan), a co-keyed join on (group, pos), and a |groups|-row
    * rollup — vectors shuffle as scalars, never as arrays.
    */
  def centroidDrift(
      a: DataFrame, b: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val ca = groupCentroids(a, groupCol, vecCol)
      .select(graft.ops.Cleaning.qcol(groupCol).as("group"), col("pos"),
        col("centroid").as("__ca"), col("n_vectors").as("__na"))
    val cb = groupCentroids(b, groupCol, vecCol)
      .select(graft.ops.Cleaning.qcol(groupCol).as("group"), col("pos"),
        col("centroid").as("__cb"), col("n_vectors").as("__nb"))
    // components micro-round to longs BEFORE summing — a double sum
    // over the (group, pos) lattice would be partition-order-dependent
    // (the repo's order-invariance contract); micro² sums are exact
    // longs (|c| ≲ 1 → da² ≤ 1e12, dim-bounded)
    // coalesce AFTER micro-rounding: a position absent from one
    // snapshot (dim mismatch) is a 0-component on that side for both
    // the L2 term and the dot/norm terms — sum() would otherwise drop
    // the (da-db)^2 term entirely (drift understated) while the norm
    // sums kept the other side's full magnitude (metrics disagreeing)
    val da = coalesce(
      floor(col("__ca") * lit(1000000.0) + lit(0.5)).cast("long"), lit(0L))
    val db = coalesce(
      floor(col("__cb") * lit(1000000.0) + lit(0.5)).cast("long"), lit(0L))
    ca.join(cb, Seq("group", "pos"), "full_outer")
      .groupBy(col("group"))
      .agg(
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        count(col("__ca")).as("dim_a"),
        count(col("__cb")).as("dim_b"),
        sum((da - db) * (da - db)).as("__ss"),
        sum(da * db).as("__dot"),
        sum(da * da).as("__qa"),
        sum(db * db).as("__qb"))
      .withColumn("drift_micro",
        when(col("n_a").isNotNull && col("n_b").isNotNull,
          floor(sqrt(col("__ss").cast("double")) + lit(0.5)).cast("long")))
      .withColumn("cos_micro",
        when(col("n_a").isNotNull && col("n_b").isNotNull &&
            col("__qa") > 0 && col("__qb") > 0,
          floor(col("__dot").cast("double") /
            (sqrt(col("__qa").cast("double")) * sqrt(col("__qb").cast("double")))
            * lit(1000000.0) + lit(0.5)).cast("long")))
      .select(col("group"), col("n_a"), col("n_b"),
        col("dim_a"), col("dim_b"),
        col("drift_micro"), col("cos_micro"))
  }

  /** Simplified silhouette per cluster — the clustering-quality audit
    * for any centroid artifact ([[groupCentroids]] labels, IVF cells,
    * domain tags): per point, a = distance to its OWN centroid,
    * b = distance to the NEAREST OTHER centroid, s = (b−a)/max(a,b) ∈
    * [−1, 1]; rolled up per cluster. Low mean s = clusters overlap
    * (an IVF built on them will probe poorly; a domain tag trained on
    * them will confuse); negative s = points closer to a foreign
    * centroid than their own — mis-assignments or a collapsed fit.
    * The O(n·k) "simplified" form replaces full silhouette's O(n²)
    * pairwise distances with centroid distances — the only form that
    * exists at corpus scale.
    *
    * Determinism: per-pair distance is the left-to-right squared-
    * component fold (the [[assignToCentroids]] order), sqrt'd and
    * micro-rounded to a long; s = (b−a)·1e6 div max(a,b) exact
    * integer; cluster sums are exact longs, the means one halfUp-6
    * double division each. A coincident point (a = b = 0) scores 0;
    * a single-centroid model has no "other" (b NULL → s NULL, the
    * point counts in n but not n_scored) — in-band, never a throw.
    *
    * Contract: the assignment column's values must be centroid groups
    * (the [[assignToCentroids]] artifact, or the label column the
    * centroids were fit on); `idCol` must be unique per point (the
    * per-point min groups on it); NULL ids/vectors/assignments are
    * dropped.
    *
    * Scale: the centroid model collects once (the
    * [[assignToCentroids]] cap and integrity checks) and ships inside
    * a native expression, so the whole per-point stage is ONE NARROW
    * PASS — `cell_distances` gives all k squared distances in the
    * same accumulation order the oracle folds, `nearest_cells(…, 2)`
    * picks the other-centroid minimum without a second scan — followed
    * by a single |clusters|-row rollup. No crossJoin, no per-point
    * shuffle: the corpus is read once and shuffles |clusters| rows.
    */
  def simplifiedSilhouette(
      df: DataFrame, idCol: String, vecCol: String, assignCol: String,
      centroids: DataFrame, groupCol: String): DataFrame = {
    import graft.ops.Cleaning.qcol
    import org.apache.spark.sql.types._
    val (orderedKeys, cents, gType) =
      collectCentroidModel(centroids, groupCol, "simplifiedSilhouette")
    val dim = cents.head.length
    import org.apache.spark.sql.{Row => SRow}
    val mapping = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(orderedKeys.zipWithIndex.map {
        case (k, i) => SRow(i, k) }: _*),
      StructType(Seq(StructField("__ci", IntegerType),
        StructField("__mk", gType, nullable = true))))
    val v = qcol(vecCol)
    val asg = qcol(assignCol)
    val dists = graft.functions.Native.cellDistances(v, cents)
    val nn = graft.functions.Native.nearestCells(v, cents, 2)
    val pts = df.filter(qcol(idCol).isNotNull && v.isNotNull && asg.isNotNull)
      // a vector whose length differs from the model dim must error,
      // not be prefix-scored (the assignToCentroids rule)
      .filter(assert_true(size(v) === dim,
        lit(s"simplifiedSilhouette: vector dim != model dim $dim in '$vecCol'")).isNull)
      .join(broadcast(mapping), asg === col("__mk"), "left")
      .withColumn("__dm",
        transform(dists, d => floor(sqrt(d) * lit(1000000.0) + lit(0.5)).cast("long")))
      .withColumn("__a",
        when(col("__ci").isNotNull, element_at(col("__dm"), col("__ci") + 1)))
      .withColumn("__bi",
        when(col("__ci").isNotNull && size(col("__dm")) >= 2,
          when(element_at(nn, 1) === col("__ci"), element_at(nn, 2))
            .otherwise(element_at(nn, 1))))
      .withColumn("__b",
        when(col("__bi").isNotNull, element_at(col("__dm"), col("__bi") + 1)))
      // sign-factored integer division: Spark `div` truncates toward
      // zero while DuckDB `//` floors — factoring the sign out keeps
      // both operands non-negative, where the two agree (the
      // seasonalProfile rule)
      .withColumn("__s",
        when(col("__a").isNull || col("__b").isNull, lit(null).cast("long"))
          .when(greatest(col("__a"), col("__b")) === 0L, lit(0L))
          .otherwise(expr(
            "CASE WHEN __b >= __a THEN ((__b - __a) * 1000000) div greatest(__a, __b) " +
              "ELSE -(((__a - __b) * 1000000) div greatest(__a, __b)) END")))
      .withColumn("cluster", asg)
    pts.groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(col("__s").isNotNull, 1L)), lit(0L)).as("n_scored"),
        sum(col("__a")).as("sum_a_micro"),
        sum(col("__b")).as("sum_b_micro"),
        sum(col("__s")).as("sum_sil_micro"))
      .withColumn("mean_sil_micro",
        when(col("n_scored") > 0,
          graft.ops.Rounding.halfUp(
            col("sum_sil_micro").cast("double") / col("n_scored").cast("double"), 6)))
  }
}
