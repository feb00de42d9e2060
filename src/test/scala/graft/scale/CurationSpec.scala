package graft.scale

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Round-3 corpus-curation operators: repetition signals, sequence
  * packing, domain stats/blocklist, int8 quantization, token-budget
  * mixture sampling.
  */
class CurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "a a a a b", "s0"),             // heavy unigram repetition
    (1L, "a b c d e f g h", "s0"),       // all distinct
    (2L, "x y x y x y", "s1"),           // bigram "x y" repeats
    (3L, "", "s1"),                      // empty
    (4L, "solo", "s1")                   // single token
  ).toDF("doc_id", "text", "source")

  test("repetitionStats: fractions match hand computation") {
    val m = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 0: 5 tokens, 2 distinct, top "a"=4, dup mass 4
    assert(m(0L).getLong(1) == 5L)
    assert(m(0L).getDouble(2) == 2.0 / 5)
    assert(m(0L).getDouble(3) == 4.0 / 5)
    assert(m(0L).getDouble(4) == 4.0 / 5)
    // doc 0 bigrams: [a a, a a, a a, a b] -> top 3/4, dup 3/4
    assert(m(0L).getLong(5) == 4L)
    assert(m(0L).getDouble(6) == 3.0 / 4)
    assert(m(0L).getDouble(7) == 3.0 / 4)
    // doc 1: no repetition anywhere
    assert(m(1L).getDouble(2) == 1.0 && m(1L).getDouble(4) == 0.0 && m(1L).getDouble(7) == 0.0)
    // doc 2 bigrams: [x y, y x, x y, y x, x y] -> top "x y"=3 of 5
    assert(m(2L).getDouble(6) == 3.0 / 5)
    // doc 3: empty -> zero counts, null ratios, ONE degenerate "" bigram
    assert(m(3L).getLong(1) == 0L && m(3L).isNullAt(2) && m(3L).getLong(5) == 1L)
    // doc 4: single token -> whole-text bigram fallback
    assert(m(4L).getLong(1) == 1L && m(4L).getLong(5) == 1L)
  }

  test("packSequences: greedy concat-and-chunk per shard") {
    val d = (0L until 20L).map(i => (i, Seq.fill(30)("w").mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(d, "doc_id", "text", budget = 100, shards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length == 20)
    out.foreach { case (id, shard, tok, _, _) =>
      assert(shard == id % 2 && tok == 30L)
    }
    // shard 0 docs in id order: starts 0,30,60,90,... -> packs 0,0,0,0,1,1,1,2,...
    val shard0 = out.filter(_._2 == 0L).sortBy(_._1)
    assert(shard0.map(_._4).toSeq == shard0.indices.map(i => (i * 30L) / 100L).toSeq)
    assert(shard0.map(_._5).toSeq == shard0.indices.map(i => (i * 30L) % 100L).toSeq)
  }

  test("packEfficiency: per-shard packs, tail waste, boundary crossings") {
    def txt(n: Int) = Seq.fill(n)("w").mkString(" ")
    // shard 0 (ids 0,2,4): tokens 4,8,3 -> starts 0,4,12; doc2 crosses
    // the pack-10 boundary once; 15 tokens -> 2 packs, waste 5
    // shard 1 (ids 1,3): tokens 10,0 -> exactly one full pack, no waste
    val d = Seq((0L, txt(4)), (1L, txt(10)), (2L, txt(8)), (3L, ""), (4L, txt(3)))
      .toDF("doc_id", "text")
    val got = TextAnalysis.packEfficiency(d, "doc_id", "text", budget = 10, shards = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got(0L) == ((3L, 15L, 2L, 5L, 1L)))
    assert(got(1L) == ((2L, 10L, 1L, 0L, 0L)))
  }

  test("bucketedBatches: linear bands, fixed docs-per-batch, oversize solo") {
    def txt(n: Int) = Seq.fill(n)("w").mkString(" ")
    val d = Seq(5, 9, 10, 11, 25, 95, 100, 101, 250, 0).zipWithIndex
      .map { case (n, i) => (i.toLong, txt(n)) }.toDF("doc_id", "text")
    val got = TextAnalysis.bucketedBatches(d, "doc_id", "text",
      capacity = 100, bandWidth = 10, shards = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    // band-10 holds lens 5,9,10 and the empty doc: 10 docs/batch -> one batch
    assert(Seq(0L, 1L, 2L, 9L).map(got) == Seq((10L, 0L), (10L, 0L), (10L, 0L), (10L, 0L)))
    assert(got(3L) == ((20L, 0L)) && got(4L) == ((30L, 0L)))
    // band-100: one doc per batch (100 div 100 = 1) -> ids 5,6 split
    assert(got(5L) == ((100L, 0L)) && got(6L) == ((100L, 1L)))
    // oversize docs pad past capacity and run solo (the chunk-first cue)
    assert(got(7L) == ((110L, 0L)) && got(8L) == ((250L, 0L)))
    // partition-invariant
    val again = TextAnalysis.bucketedBatches(d.repartition(7), "doc_id", "text",
      capacity = 100, bandWidth = 10, shards = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(again == got)
    // the audit over the same layout: 7 batches, 650 padded, 44 waste
    val eff = TextAnalysis.batchEfficiency(d, "doc_id", "text",
      capacity = 100, bandWidth = 10, shards = 1).collect()
    assert(eff.length == 1)
    val r = eff(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      ((10L, 606L, 7L, 650L, 44L)))
  }

  test("packSequences is partitioning-invariant") {
    val d = (0L until 50L).map(i => (i, "a b c")).toDF("doc_id", "text")
    val a = TextAnalysis.packSequences(d, "doc_id", "text", 7, 4).collect().toSet
    val b = TextAnalysis.packSequences(d.repartition(13), "doc_id", "text", 7, 4).collect().toSet
    assert(a == b)
  }

  test("urlDomainStats counts urls and distinct docs per domain") {
    val d = Seq(
      (0L, "see https://A.com/x and https://a.com/y plus http://b.org/z"),
      (1L, "only https://a.com/q here"),
      (2L, "no urls at all")).toDF("doc_id", "text")
    val m = TextAnalysis.urlDomainStats(d, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m == Map("a.com" -> (3L, 2L), "b.org" -> (1L, 1L)))
  }

  test("filterBlockedDomains drops only docs touching blocked domains") {
    val d = Seq(
      (0L, "see https://bad.com/x"),
      (1L, "see https://good.com/x"),
      (2L, "no urls"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val kept = TextAnalysis.filterBlockedDomains(d, "text", Seq("BAD.com"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L)) // null text survives; case-insensitive block
  }

  test("quantizeInt8Table: near-unit cosine, bounded error, exact scale") {
    val d = Seq(
      (0L, Array(1.0f, -2.0f, 0.5f, 254.0f)),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val rows = Embeddings.quantizeInt8Table(d, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(0L).getDouble(1) == 2.0) // 254/127
    assert(rows(0L).getDouble(2) > 0.999) // reconstruction cosine
    assert(rows(0L).getDouble(3) <= 1.0 + 1e-9) // max err <= scale/2
    // zero vector: null scale and metrics, not a crash or a zero-div
    assert(rows(1L).isNullAt(1) && rows(1L).isNullAt(2))
  }

  test("sampleByTokenBudget caps over-budget groups, keeps others whole") {
    val d = (0L until 300L).map { i =>
      val src = if (i < 200) "big" else "small"
      (i, Seq.fill(10)("w").mkString(" "), src)
    }.toDF("doc_id", "text", "source")
    // big: 2000 tokens vs budget 400 -> rate 0.2; small: unmapped -> kept
    val kept = Sampling.sampleByTokenBudget(d, "doc_id", "text", "source",
      Map("big" -> 400L, "absent" -> 1L))
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("small") == 100L)
    assert(bySrc("big") > 20L && bySrc("big") < 60L) // ~40 expected at rate .2
    // deterministic + partitioning-invariant
    val a = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.sampleByTokenBudget(d.repartition(11), "doc_id", "text", "source",
      Map("big" -> 400L, "absent" -> 1L)).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // zero budget empties the group
    val none = Sampling.sampleByTokenBudget(d, "doc_id", "text", "source", Map("big" -> 0L))
    assert(none.filter(col("source") === "big").count() == 0L)
    assert(none.filter(col("source") === "small").count() == 100L)
  }

  test("chunkDocuments: overlapping windows cover the token stream exactly") {
    val toks = (0 until 10).map(i => s"t$i")
    val d = Seq((1L, toks.mkString(" ")), (2L, ""), (3L, "one")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(d, "doc_id", "text", chunk = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 1: starts 0,3,6,9 (step 3) -> sizes 4,4,4,1
    val c1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(c1.map(_._3).toSeq == Seq(4L, 4L, 4L, 1L))
    assert(c1.head._4 == "t0 t1 t2 t3" && c1(1)._4 == "t3 t4 t5 t6" && c1.last._4 == "t9")
    // consecutive chunks share exactly `overlap` tokens
    assert(c1.head._4.split(" ").last == c1(1)._4.split(" ").head)
    // empty doc -> no chunks; single-token doc -> one short chunk
    assert(!out.exists(_._1 == 2L))
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 1L, "one")))
  }

  test("exactKeepBest keeps the top-scored row per content group, min-id on ties") {
    val d = Seq(
      (1L, "same content here", 10L),
      (2L, "SAME  content HERE", 25L), // same normalized content, best score
      (3L, "same content here", 25L),  // ties doc 2 -> doc 2 wins (min id)
      (4L, "different entirely", 5L)
    ).toDF("doc_id", "text", "score")
      .withColumn("__norm",
        array_join(TextAnalysis.tokens(org.apache.spark.sql.functions.col("text")), " "))
    val kept = Dedup.exactKeepBest(d, "doc_id", Seq("__norm"), "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
    // multi-column content keys must not collide on boundary shifts
    val shifty = Seq((1L, "ab", "c", 1L), (2L, "a", "bc", 2L)).toDF("doc_id", "p", "q", "score")
    val keptShifty = Dedup.exactKeepBest(shifty, "doc_id", Seq("p", "q"), "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptShifty == Set(1L, 2L)) // distinct contents -> both kept
  }

  test("dedupAgainstIndex drops only content already in the index") {
    val index = Seq((1L, "the quick brown fox"), (2L, "unrelated text entirely")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "THE  Quick   brown FOX"), // same normalized stream -> dropped
      (11L, "the quick brown wolf"),   // novel -> kept
      (12L, "")).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstIndex(batch, index, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L))
    // batch against an empty index keeps everything
    val all = Dedup.dedupAgainstIndex(batch, index.limit(0), "doc_id", "text").count()
    assert(all == 3L)
  }

  test("portable simhash: pigeonhole pairs equal brute-force Hamming pairs") {
    val base = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    val docs = (0L until 30L).map { i =>
      val txt =
        if (i % 3 == 0) base.mkString(" ")
        else base.updated((i % 8).toInt, s"tok$i").mkString(" ")
      (i, txt)
    }
    val out = Dedup.nearDupSimhash(docs.toDF("doc_id", "text"), "doc_id", "text",
      maxHamming = 3, maxBucketSize = 0, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // driver-side reference implementation of the 60-bit portable simhash
    def fp(txt: String): Long = {
      val sums = new Array[Int](60)
      txt.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { t =>
        var h1 = 0L; var h2 = 0L
        t.codePoints().forEach { cp =>
          h1 = (h1 * 31 + cp) % 2147483647L
          h2 = (h2 * 131 + cp) % 2147483647L
        }
        (0 until 30).foreach { j =>
          sums(j) += (if (((h1 >> j) & 1) == 1) 1 else -1)
          sums(30 + j) += (if (((h2 >> j) & 1) == 1) 1 else -1)
        }
      }
      (0 until 60).foldLeft(0L)((acc, j) => if (sums(j) > 0) acc | (1L << j) else acc)
    }
    val fps = docs.map { case (i, t) => (i, fp(t)) }
    val brute = (for {
      (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (ia, ib, h)).toSet
    assert(out == brute)
    assert(brute.exists { case (a, b, h) => h == 0 }) // the i%3==0 clones
  }

  test("curate: composed manifest respects stage contracts and decorrelates split from sampling") {
    // 600 english-looking docs across 3 sources with a small budget so
    // the temperature rates are well below the train fraction — the
    // case where a same-hash split would put EVERY kept doc in 'train'.
    // Unique tokens INTERLEAVE with the en stopwords so every 3-gram
    // shingle carries a doc-unique token: langID sees english, but the
    // near-dup stage must not collapse the fixture to one cluster.
    val d = (0L until 600L).map { i =>
      val src = s"s${i % 3}"
      (i, s"the u${i}a a u${i}b of u${i}c and u${i}d is u${i}e to u${i}f", src)
    }.toDF("doc_id", "text", "source")
    val out = Curation.curateCleaned(
      TextAnalysis.cleanCorpus(d, "doc_id", "text", allowedLangs = Seq("en")),
      "doc_id", "text", "source", alpha = 0.5, totalBudget = 750L,
      splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      packBudget = 64, shards = 4, metaCols = Seq("source"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    val splits = rows.map(_.getAs[String]("split")).toSet
    // rates ≈ 0.1 here: with the same-hash bug this would be {"train"}
    assert(splits == Set("train", "val", "test"),
      s"split decorrelation failed: only $splits present")
    // packs never straddle a split: (split, shard, pack_id) triples are
    // disjoint across splits by construction — check offsets restart
    val byKey = rows.groupBy(r => (r.getAs[String]("split"), r.getAs[Long]("shard")))
    byKey.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("doc_id"))
      // running sum restarts at 0 within every (split, shard)
      val starts = sorted.scanLeft(0L)((acc, r) => acc + r.getAs[Long]("token_count")).init
      sorted.zip(starts).foreach { case (r, st) =>
        assert(r.getAs[Long]("pack_id") == st / 64 && r.getAs[Long]("pack_offset") == st % 64)
      }
    }
    // deterministic + partitioning-invariant end to end
    val again = Curation.curateCleaned(
      TextAnalysis.cleanCorpus(d.repartition(13), "doc_id", "text", allowedLangs = Seq("en")),
      "doc_id", "text", "source", alpha = 0.5, totalBudget = 750L,
      splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      packBudget = 64, shards = 4, metaCols = Seq("source")).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("nearDupEmbedding full-recall banding equals brute-force pairs") {
    // 40 vectors in 4 tight clusters + noise: every intra-cluster pair
    // has cosine ~1, cross-cluster pairs are far lower
    val rnd = new scala.util.Random(7)
    val base = Array.fill(4)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 40).map { i =>
      val b = base(i % 4)
      (i.toLong, b.map(x => x + (rnd.nextGaussian() * 0.01).toFloat))
    }
    val d = vecs.toDF("vec_id", "embedding")
    val lsh = Dedup.nearDupEmbedding(d, "vec_id", "embedding",
      bits = 2, tables = 48, threshold = 0.9, dim = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = vecs.combinations(2).map(_.toList).collect {
      case List((ia, va), (ib, vb)) =>
        val dt = va.zip(vb).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val na = math.sqrt(va.map(x => x.toDouble * x.toDouble).sum)
        val nb = math.sqrt(vb.map(x => x.toDouble * x.toDouble).sum)
        ((ia, ib), dt / (na * nb))
    }.filter(_._2 >= 0.9).map(_._1).toSet
    assert(lsh == brute && brute.size >= 40) // 4 clusters of 10 -> >= 4*45... bounded below loosely
  }

  test("curriculumPack == hand-wired curriculumBands + packSequences; null scores drop") {
    val d = (0L until 24L)
      .map(i => (i, Seq.fill(10 + (i % 5).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    // integer scores with ties and a gap; doc 23 unscored (null)
    val scores = (0L until 24L)
      .map(i => (i, if (i == 23L) None else Some((i % 7) * 100L)))
      .toDF("doc_id", "score")
    val got = Curation.curriculumPack(d, "doc_id", "text", scores, "score",
      bands = 4, grid = 64, packBudget = 32, shards = 2)
    val bands = Sampling.curriculumBands(scores, "doc_id", "score", bands = 4, grid = 64)
    val expect = TextAnalysis.packSequences(
      d.join(bands.select(col("doc_id"), col("band")), "doc_id"),
      "doc_id", "text", budget = 32, shards = 2, extraPartitionCols = Seq("band"))
    assert(got.columns.toSeq == expect.columns.toSeq)
    assert(got.collect().toSet == expect.collect().toSet)
    assert(got.count() == 23L) // the null-scored doc dropped
    // a pack never straddles a band: (band, shard, pack_id) identifies
    // rows of exactly one band by construction — check groups agree
    val mixed = got.groupBy("band", "shard", "pack_id")
      .agg(countDistinct("band").as("nb")).filter(col("nb") > 1).count()
    assert(mixed == 0L)
  }

  test("concentrationReport: hand-computed Gini/HHI, balance extremes") {
    // masses 1,2,3 tokens across three sources:
    // gini = (2*(1*1+2*2+3*3) - 4*6) / (3*6) = (28-24)/18 = 0.222222
    // hhi  = (1+4+9)/36 = 0.388889
    val df = Seq(
      (1L, "a", "s1"), (2L, "a b", "s2"), (3L, "a b c", "s3")
    ).toDF("doc_id", "text", "source")
    val r = Curation.concentrationReport(df, "source", "text").head
    assert(r.getLong(0) == 3L && r.getLong(1) == 6L)
    assert(r.getDouble(2) == 0.222222 && r.getDouble(3) == 0.388889)
    // perfectly balanced -> gini 0, hhi 1/n
    val bal = Seq((1L, "a b", "s1"), (2L, "c d", "s2")).toDF("doc_id", "text", "source")
    val rb = Curation.concentrationReport(bal, "source", "text").head
    assert(rb.getDouble(2) == 0.0 && rb.getDouble(3) == 0.5)
    // total dominance -> gini -> (n-1)/n with a zero-mass source
    val dom = Seq((1L, "", "s0"), (2L, "a b c d", "s1")).toDF("doc_id", "text", "source")
    val rd = Curation.concentrationReport(dom, "source", "text").head
    assert(rd.getDouble(2) == 0.5 && rd.getDouble(3) == 1.0)
  }

  test("perplexityBuckets: per-lang terciles ordered, ties share a bucket, empty doc unscored") {
    // two languages; "aa aa" docs repeat the reference's dominant token
    // (high score), mixed docs score lower, pure-OOV lowest
    val texts = Seq(
      "aa aa aa", "aa aa aa", "aa aa bb", "aa bb bb", "bb bb qq",
      "qq qq qq", "zz zz zz", "aa aa aa zz", "aa qq zz")
    val rows = (for {
      (lang, off) <- Seq(("en", 0L), ("fr", 100L))
      (t, i) <- texts.zipWithIndex
    } yield (off + i, t, lang)) :+ ((999L, "", "en"))
    val df = rows.toDF("doc_id", "text", "lang")
    val got = Curation.perplexityBuckets(df, "doc_id", "text", "lang",
        df.filter(col("doc_id") % 2 === 0), "text", vocabSize = 100)
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getString(3))).toList
    assert(got.find(_._1 == 999L).get._4 == "unscored")
    for (lang <- Seq("en", "fr")) {
      val scored = got.filter(g => g._2 == lang && g._3.isDefined)
      val byBucket = scored.groupBy(_._4).view.mapValues(_.map(_._3.get)).toMap
      // strict score ordering across buckets: head > middle > tail
      for {
        h <- byBucket.get("head"); m <- byBucket.get("middle")
      } assert(h.min > m.max)
      for {
        m <- byBucket.get("middle"); t <- byBucket.get("tail")
      } assert(m.min > t.max)
      // equal scores always share a bucket
      scored.groupBy(_._3.get).values.foreach { same =>
        assert(same.map(_._4).distinct.size == 1)
      }
      // terciles: no bucket exceeds half the scored mass here (ties can
      // skew exact thirds; the boundary rule keeps buckets non-degenerate)
      assert(byBucket.values.forall(_.nonEmpty))
    }
  }

  test("filterFunnel: first-fail attribution, raw bite, fail-closed NULLs, survivor chain") {
    val rows: Seq[(Option[Boolean], Option[Boolean], Option[Boolean])] =
      Seq.fill(3)((Some(true), Some(true), Some(true))) ++
      Seq.fill(2)((Some(false), Some(true), Some(true))) ++
      Seq((Some(true), Some(false), Some(true))) ++
      Seq((Some(false), Some(false), Some(false))) ++
      Seq.fill(2)((Some(true), Some(true), Some(false))) ++
      Seq((Some(true), None, Some(true))) // NULL rule must fail closed
    val df = rows.toDF("r0", "r1", "r2")
    val got = Curation.filterFunnel(df, Seq("r0", "r1", "r2"))
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got("r0") === ((10L, 3L, 3L, 7L)))
    assert(got("r1") === ((10L, 2L, 3L, 5L)), "r1's first-fail excludes rows r0 already killed")
    assert(got("r2") === ((10L, 2L, 3L, 3L)))
    intercept[IllegalArgumentException](Curation.filterFunnel(df, Seq.empty))
    intercept[IllegalArgumentException](Curation.filterFunnel(df, Seq("r0", "r0")))
  }
}
