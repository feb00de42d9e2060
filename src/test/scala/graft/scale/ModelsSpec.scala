package graft.scale

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class ModelsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("PQ model parquet roundtrip is bit-exact") {
    val m = Pq.syntheticModel(dim = 16, m = 4, k = 8, seed = 7L)
    val dir = tmp("models-pq")
    Models.savePq(spark, m, dir)
    val back = Models.loadPq(spark, dir)
    assert(back.dim == m.dim && back.m == m.m && back.k == m.k)
    for (j <- 0 until m.m; c <- 0 until m.k)
      assert(back.codebooks(j)(c).toSeq == m.codebooks(j)(c).toSeq)
  }

  test("centroids parquet roundtrip is bit-exact and cell-ordered") {
    val cents = Array(Array(0.25, -1.5), Array(3.125, 0.0), Array(-0.0078125, 42.0))
    val dir = tmp("models-cents")
    Models.saveCentroids(spark, cents, dir)
    val back = Models.loadCentroids(spark, dir)
    assert(back.length == 3)
    assert(back.zip(cents).forall { case (a, b) => a.toSeq == b.toSeq })
  }

  test("load fails loudly on a non-model artifact") {
    val dir = tmp("models-bad")
    Seq((5, Seq(1.0)), (7, Seq(2.0))).toDF("cell", "centroid")
      .write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException](Models.loadCentroids(spark, dir))
    assert(e.getMessage.contains("non-contiguous"))
  }

  test("wave reuse: fit once on wave 1, save; wave 2 loads and encodes/assigns identically") {
    // deterministic fake embeddings, two ingest waves
    def wave(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map { i =>
        (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat))
      }.toSeq.toDF("vec_id", "embedding")
    val wave1 = wave(0 until 200)
    val wave2 = wave(200 until 260)

    // PQ: fit on wave 1, persist; wave 2 encodes with the LOADED model
    val fitted = Pq.fit(wave1, "vec_id", "embedding", dim = 8, m = 4, k = 4)
    val pqDir = tmp("models-wave-pq")
    Models.savePq(spark, fitted, pqDir)
    val viaLoaded = Pq.encode(wave2, "vec_id", "embedding", Models.loadPq(spark, pqDir))
      .orderBy("vec_id").collect().toSeq
    val viaMemory = Pq.encode(wave2, "vec_id", "embedding", fitted)
      .orderBy("vec_id").collect().toSeq
    assert(viaLoaded == viaMemory)

    // IVF coarse centroids: wave 2's semantic-dedup cells come from the
    // wave-1 fit, not a refit on wave 2 (cell assignments must not
    // drift between waves)
    val cents = Similarity.fitIvfCentroids(wave1, "vec_id", "embedding", nlist = 4)
    val cDir = tmp("models-wave-ivf")
    Models.saveCentroids(spark, cents, cDir)
    val loaded = Models.loadCentroids(spark, cDir)
    val viaLoadedPairs = Dedup.semanticDedupPairs(
      wave2, "vec_id", "embedding", nlist = 4, threshold = 0.9,
      centroids0 = Some(loaded)).orderBy("id_a", "id_b").collect().toSeq
    val viaMemoryPairs = Dedup.semanticDedupPairs(
      wave2, "vec_id", "embedding", nlist = 4, threshold = 0.9,
      centroids0 = Some(cents)).orderBy("id_a", "id_b").collect().toSeq
    assert(viaLoadedPairs == viaMemoryPairs)
  }

  test("ivfAdcTopK over loaded centroids at full probe equals flat adcTopK") {
    val df = (0 until 120).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.cos(i * 3 + j).toFloat))
    }.toSeq.toDF("vec_id", "embedding")
    val model = Pq.syntheticModel(dim = 8, m = 4, k = 4)
    val cents = Similarity.fitIvfCentroids(
      df, "vec_id", "embedding", nlist = 4, normalize = false, dim = 8)
    val dir = tmp("models-ivfadc")
    Models.saveCentroids(spark, cents, dir)
    val q = df.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val ivf = Pq.ivfAdcTopK(df, q, "vec_id", "embedding", "query_id",
      k = 4, model, nlist = 4, nprobe = 4, excludeSelf = true,
      centroids0 = Some(Models.loadCentroids(spark, dir)))
      .orderBy("query_id", "rank").collect().toSeq
    val flat = Pq.adcTopK(df, q, "vec_id", "embedding", "query_id",
      k = 4, model, excludeSelf = true)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ivf == flat)
  }

  test("hashed-classifier model: save/load roundtrip scores identically, wrong artifact rejected") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma", true),
      (2L, "delta epsilon zeta", false),
      (3L, "alpha alpha beta", true)
    ).toDF("doc_id", "text", "lab")
    val model = TextAnalysis.hashedClassifierFit(train, "text", "lab", buckets = 64)
    val dir = tmp("models-hashclf")
    Models.saveHashedClassifier(model, dir)
    val loaded = Models.loadHashedClassifier(spark, dir)
    val direct = TextAnalysis.hashedClassifierScore(train, "doc_id", "text", model, 64)
      .orderBy("doc_id").collect().toSeq
    val viaDisk = TextAnalysis.hashedClassifierScore(train, "doc_id", "text", loaded, 64)
      .orderBy("doc_id").collect().toSeq
    assert(direct == viaDisk)
    // not-a-model artifacts fail loudly in both directions
    assertThrows[IllegalArgumentException] {
      Models.saveHashedClassifier(train, tmp("models-hashclf-bad"))
    }
    val pqDir2 = tmp("models-nothashclf")
    Models.savePq(spark, Pq.syntheticModel(dim = 8, m = 2, k = 4), pqDir2)
    assertThrows[IllegalArgumentException] {
      Models.loadHashedClassifier(spark, pqDir2)
    }
  }

  test("fit-once caches: thunk runs once per (kind, key), hits return the identical artifact") {
    import java.util.concurrent.atomic.AtomicInteger

    // artifact-dir cache: same key → same dir, one save; new key → new fit
    val saves = new AtomicInteger(0)
    def dirFor(key: String): String =
      Models.fitOnceArtifactDir("spec-art", key) { out =>
        saves.incrementAndGet()
        java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "m.txt"), key)
        ()
      }
    val d1 = dirFor("k1"); val d2 = dirFor("k1"); val d3 = dirFor("k2")
    assert(d1 == d2 && d1 != d3 && saves.get == 2)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(d1, "m.txt")) == "k1")

    // snapshot cache: build runs once; every call returns the stored
    // read-back with identical rows (the bit-exactness contract)
    val builds = new AtomicInteger(0)
    def snap(): org.apache.spark.sql.DataFrame =
      Models.fitOnceSnapshot(spark, "spec-snap", "k1") {
        builds.incrementAndGet()
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      }
    val r1 = snap().orderBy("id").collect().toSeq
    val r2 = snap().orderBy("id").collect().toSeq
    assert(builds.get == 1 && r1 == r2 && r1.map(_.getLong(0)) == Seq(1L, 2L))

    // driver-value cache: fit runs once, the held value is replayed
    val fits = new AtomicInteger(0)
    def v(): Seq[Int] = Models.fitOnceValue("spec-val", "k1") {
      fits.incrementAndGet(); Seq(1, 2, 3)
    }
    assert((v() eq v()) && fits.get == 1)
  }

  test("BT model: pairs+strengths roundtrip bit-exact; warm refresh from the LOADED artifact == from the live fit; wrong artifact rejected") {
    val games = Seq(
      (1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L),
      (2L, 3L), (2L, 3L), (1L, 3L), (1L, 3L)
    ).toDF("winner", "loser")
    val pairs = Preferences.pairStats(games, "winner", "loser")
    val fit = Preferences.btStrengths(games, "winner", "loser", iterations = 4)
    val dir = tmp("models-bt")
    Models.saveBtModel(pairs, fit, dir)
    val backP = Models.loadBtPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(backP === pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap)
    val backS = Models.loadBtStrengths(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(backS === fit.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap)
    // wave 2 lands: merge the LOADED pairs, warm-start from the LOADED
    // strengths — bit-identical to refreshing from the live frames
    val wave2 = Seq((3L, 1L), (3L, 2L), (4L, 1L)).toDF("winner", "loser")
    def strengthsOf(p: org.apache.spark.sql.DataFrame, i: org.apache.spark.sql.DataFrame) =
      Preferences.btStrengthsFromPairs(
        Preferences.mergePairStats(p, Preferences.pairStats(wave2, "winner", "loser")),
        iterations = 2, init = Some(i))
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(strengthsOf(Models.loadBtPairs(spark, dir), Models.loadBtStrengths(spark, dir))
      === strengthsOf(pairs, fit))
    // loud failure on a non-artifact
    intercept[IllegalArgumentException] {
      Models.saveBtModel(games, fit, tmp("models-bt-bad"))
    }
  }
}
