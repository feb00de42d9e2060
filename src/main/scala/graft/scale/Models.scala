package graft.scale

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

/** Persistence for the driver-sized quantizer models — the vector-side
  * analogue of [[Dedup.minhashBandIndex]]'s persisted-index pattern.
  *
  * At 100 TB the coarse quantizer (IVF cells, SemDeDup cells) and the
  * PQ codebooks are fitted ONCE on a calibration sample and reused by
  * every subsequent job and ingest wave: refitting per query both
  * wastes the fit and — worse — silently shifts cell/code assignments
  * between waves, so two waves of the same pipeline stop agreeing on
  * which cell a vector lives in. These helpers store the fitted arrays
  * as small parquet tables (nlist or m×k rows — kilobytes), so the
  * model travels on the same storage as the data (HDFS/S3 path), reads
  * back bit-exactly (parquet doubles are IEEE-exact), and is readable
  * by any engine for audit.
  *
  * Save is `overwrite` — a model path is a named artifact, re-calibrating
  * replaces it atomically (parquet dir swap), matching how the band
  * index is re-published per accepted wave.
  */
object Models {

  // -------------------------------------------------------------------
  // Fit-once caches (round-9: promoted here from SparkEntry so any
  // production caller of TextAnalysis/Curation/Dedup gets the same
  // fit-once behavior the bench suite prices).
  //
  // Staleness/concurrency contract (shared by all three helpers): the
  // data behind a cache key is assumed IMMUTABLE for the JVM's
  // lifetime — callers key on the corpus dir + fit params, which is
  // sound for batch pipelines reading published immutable waves; a
  // long-lived service should fold a data fingerprint into `key`.
  // TrieMap `getOrElseUpdate` may evaluate the thunk more than once
  // under concurrent first calls — harmless when fits are
  // deterministic and idempotent (last writer wins; duplicate temp
  // dirs are removed by the JVM-exit hook). Artifact dirs created by
  // [[fitOnceArtifactDir]] are deleted recursively at JVM exit.
  // -------------------------------------------------------------------

  private val fitOnceDirs =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private val fitOnceValues =
    scala.collection.concurrent.TrieMap.empty[(String, String), Any]

  /** Temp dir for a cached model artifact, removed recursively at JVM
    * exit (Files' own deleteOnExit handles only empty dirs). */
  def tempArtifactDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        val walk = java.nio.file.Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        finally walk.close()
      } catch { case _: Throwable => () }
    }))
    dir.toString
  }

  /** Fit-once ARTIFACT cache: the first call per (kind, key) per JVM
    * creates a temp dir, runs `save` into it, and memoizes the path;
    * every later call returns the same path without re-fitting. The
    * caller loads from the returned dir (so the load path — and its
    * bit-exactness guarantees — is identical whether the artifact was
    * just fitted or is a cache hit).
    */
  def fitOnceArtifactDir(kind: String, key: String)(save: String => Unit): String =
    fitOnceDirs.getOrElseUpdate((kind, key), {
      val out = tempArtifactDir(s"graft-$kind-")
      save(out)
      out
    })

  /** Fit-once SNAPSHOT cache: the first call per (kind, key) per JVM
    * materializes `build` as a parquet snapshot; every call (first
    * included) returns the snapshot READ-BACK, so consumers always see
    * the stored shape a production pipeline would read (clean once to
    * storage, consume many times). Bit-exact for long/string/double
    * columns (value-identical parquet roundtrip).
    */
  def fitOnceSnapshot(spark: SparkSession, kind: String, key: String)(
      build: => DataFrame): DataFrame = {
    val dir = fitOnceArtifactDir(kind, key) { out =>
      build.write.mode("overwrite").parquet(s"$out/snapshot")
    }
    spark.read.parquet(s"$dir/snapshot")
  }

  /** Fit-once DRIVER-VALUE cache for driver-sized fit results (a BPE
    * merge table, a vocab map): first call per (kind, key) per JVM runs
    * `fit`, later calls replay the held value.
    */
  def fitOnceValue[T](kind: String, key: String)(fit: => T): T =
    fitOnceValues.getOrElseUpdate((kind, key), fit).asInstanceOf[T]

  /** Persist IVF/semantic-dedup coarse centroids: one row per cell,
    * (cell, centroid). Driver-sized by the fit contract (nlist ≤ a few
    * thousand; [[Similarity.MaxFitSample]] bounds the fit itself).
    */
  def saveCentroids(
      spark: SparkSession, centroids: Array[Array[Double]], path: String): Unit = {
    val schema = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("centroid", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val rows = centroids.zipWithIndex.map { case (c, i) => Row(i, c.toSeq) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Load centroids saved by [[saveCentroids]], in cell order. The
    * collect is nlist rows by construction.
    */
  def loadCentroids(spark: SparkSession, path: String): Array[Array[Double]] = {
    val rows = spark.read.parquet(path)
      .select(col("cell"), col("centroid")).orderBy(col("cell")).collect()
    require(rows.nonEmpty, s"loadCentroids: empty model at $path")
    require(rows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      s"loadCentroids: non-contiguous cell ids at $path — not a saveCentroids artifact")
    rows.map(_.getSeq[Double](1).toArray)
  }

  /** Persist a fitted PQ model: one row per (subspace, code) centroid
    * plus the (dim, m, k) shape on every row (m×k rows — self-describing
    * without a sidecar file).
    */
  def savePq(spark: SparkSession, model: Pq.Model, path: String): Unit = {
    val schema = StructType(Seq(
      StructField("subspace", IntegerType, nullable = false),
      StructField("code", IntegerType, nullable = false),
      StructField("centroid", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("dim", IntegerType, nullable = false),
      StructField("m", IntegerType, nullable = false),
      StructField("k", IntegerType, nullable = false)))
    val rows = for {
      j <- 0 until model.m
      c <- 0 until model.k
    } yield Row(j, c, model.codebooks(j)(c).toSeq, model.dim, model.m, model.k)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Load a PQ model saved by [[savePq]]. The collect is m×k rows by
    * construction; Model's own requires re-validate the shape.
    */
  def loadPq(spark: SparkSession, path: String): Pq.Model = {
    val rows = spark.read.parquet(path)
      .select(col("subspace"), col("code"), col("centroid"), col("dim"), col("m"), col("k"))
      .orderBy(col("subspace"), col("code")).collect()
    require(rows.nonEmpty, s"loadPq: empty model at $path")
    val (dim, m, k) = (rows(0).getInt(3), rows(0).getInt(4), rows(0).getInt(5))
    require(rows.length == m * k, s"loadPq: ${rows.length} rows != m*k = ${m * k} at $path")
    val codebooks = Array.tabulate(m, k) { (j, c) =>
      val r = rows(j * k + c)
      require(r.getInt(0) == j && r.getInt(1) == c,
        s"loadPq: missing (subspace=$j, code=$c) at $path — not a savePq artifact")
      r.getSeq[Double](2).toArray
    }
    Pq.Model(dim, m, k, codebooks)
  }

  private val HashClfCols = Seq("bucket", "pos_count", "neg_count", "w_micro")

  /** Persist a [[TextAnalysis.hashedClassifierFit]] model — the
    * fit-once / score-every-wave reuse path of the quality-filter
    * family: plain parquet, one file (the model is `buckets` rows by
    * construction; longs are lossless there).
    */
  def saveHashedClassifier(model: DataFrame, path: String): Unit = {
    val missing = HashClfCols.filterNot(model.columns.contains)
    require(missing.isEmpty,
      s"saveHashedClassifier: not a hashedClassifierFit frame (missing ${missing.mkString(", ")})")
    model.repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Load a model saved by [[saveHashedClassifier]]; fails loudly on a
    * path that is not such an artifact. */
  def loadHashedClassifier(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val missing = HashClfCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"loadHashedClassifier: $path is not a saveHashedClassifier artifact (missing ${missing.mkString(", ")})")
    df
  }

  private val BtPairCols = Seq("item_a", "item_b", "games", "wins_a")
  private val BtStrengthCols = Seq("item", "wins", "games", "strength_micro")

  /** Persist a Bradley-Terry fit — BOTH halves a warm-start refresh
    * needs ([[Preferences.btStrengthsFromPairs]]): the pair matrix
    * (mergeable: new waves' counts just sum) and the strengths (the
    * warm init). Plain parquet, two subdirs; longs are lossless, so
    * the save→load roundtrip is bit-exact (ModelsSpec-pinned). */
  def saveBtModel(pairs: DataFrame, strengths: DataFrame, path: String): Unit = {
    val mp = BtPairCols.filterNot(pairs.columns.contains)
    require(mp.isEmpty,
      s"saveBtModel: not a pairStats frame (missing ${mp.mkString(", ")})")
    val ms = BtStrengthCols.filterNot(strengths.columns.contains)
    require(ms.isEmpty,
      s"saveBtModel: not a btStrengths frame (missing ${ms.mkString(", ")})")
    pairs.select(BtPairCols.map(col): _*)
      .repartition(1).write.mode("overwrite").parquet(s"$path/pairs")
    strengths.select(BtStrengthCols.map(col): _*)
      .repartition(1).write.mode("overwrite").parquet(s"$path/strengths")
  }

  /** Load the mergeable pair matrix saved by [[saveBtModel]]. */
  def loadBtPairs(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(s"$path/pairs")
    val missing = BtPairCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"loadBtPairs: $path is not a saveBtModel artifact (missing ${missing.mkString(", ")})")
    df
  }

  /** Load the warm-init strengths saved by [[saveBtModel]]. */
  def loadBtStrengths(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(s"$path/strengths")
    val missing = BtStrengthCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"loadBtStrengths: $path is not a saveBtModel artifact (missing ${missing.mkString(", ")})")
    df
  }
}
