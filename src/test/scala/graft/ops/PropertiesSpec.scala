package graft.ops

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.bht.Kpis

/** Property-based invariants (SURVEY §5.3) over scalacheck generators.
  * (Plain seeded sampling — the scalatest/scalacheck bridge artifact is
  * not in the offline cache.) Small generated frames: the point is the
  * algebra, not volume.
  */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int = 8): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val catValues = Gen.listOfN(40, Gen.oneOf("a", "b", "c", "d", "e"))
  private val weightsGen = Gen.listOfN(40, Gen.choose(1, 9).map(_.toDouble))

  test("A2 freq_table: pct_total sums to ~100 and counts sum to weight total") {
    samples(Gen.zip(catValues, weightsGen)).foreach { case (vals, ws) =>
      val df = vals.zip(ws).toDF("c", "w")
      val rows = Tabulation.freqTable(df, "c", Some("w"), 4)
        .select("count", "pct_total").as[(Double, Double)].collect()
      assert(math.abs(rows.map(_._2).sum - 100.0) < 0.01)
      assert(math.abs(rows.map(_._1).sum - ws.sum) < 1e-9)
    }
  }

  test("A3 crosstab: count cells sum to grand total; row-pct rows sum to ~100") {
    samples(Gen.zip(catValues, catValues, weightsGen), 5).foreach { case (rs, cs, ws) =>
      val df = rs.lazyZip(cs).lazyZip(ws).toList.toDF("r", "c", "w")
      val out = Crosstab.crosstab(df, "r", "c", Some("w"), "row", includeTotals = false, 4)
      val counts = out.filter($"__type__" === "count").drop("r", "__type__")
        .collect().flatMap(r => (0 until r.length).map(r.getDouble))
      assert(math.abs(counts.sum - ws.sum) < 1e-9)
      val pctRows = out.filter($"__type__" === "%_row").drop("r", "__type__")
        .collect().map(r => (0 until r.length)
          .flatMap(i => Option(r.get(i)).map(_.asInstanceOf[Double])).sum)
      pctRows.foreach(s => assert(math.abs(s - 100.0) < 0.01))
    }
  }

  test("A4 multi-dim: counts sum equals weight total regardless of percent mode") {
    samples(Gen.zip(catValues, catValues, weightsGen), 3).foreach { case (d1, d2, ws) =>
      val df = d1.lazyZip(d2).lazyZip(ws).toList.toDF("d1", "d2", "w")
      Seq("total", "d1", "bogus").foreach { mode =>
        val total = MultiDim.multiDimTabulation(df, Seq("d1", "d2"), Some("w"), mode, 1)
          .agg(sum("count")).head.getDouble(0)
        assert(math.abs(total - ws.sum) < 1e-9)
      }
    }
  }

  test("A8 NPS is bounded in [-100, 100]") {
    samples(Gen.listOfN(30, Gen.choose(0, 10))).foreach { scores =>
      val df = scores.map(_.toString).toDF("s")
      val nps = Kpis.npsSummary(df, "s").filter($"metric" === "nps").head.getDouble(1)
      assert(nps >= -100.0 && nps <= 100.0)
    }
  }

  test("A5 full tabulation: per-column counts each sum to rowcount") {
    samples(Gen.zip(catValues, catValues), 5).foreach { case (c1, c2) =>
      val df = c1.zip(c2).toDF("x", "y")
      val sums = Tabulation.fullTabulation(df)
        .groupBy("column").agg(sum("count").as("n"))
        .as[(String, Long)].collect().toMap
      assert(sums("x") == c1.size && sums("y") == c1.size)
    }
  }

  test("T5 codebook recode with empty map is a stringify identity") {
    samples(catValues, 3).foreach { vals =>
      val df = vals.toDF("c")
      val out = Cleaning.applyCodebook(df, Map("c" -> Map.empty)).as[String].collect().toSeq
      assert(out == vals)
    }
  }

  test("histogram: counts sum to non-null rows; bins within range") {
    val valsGen = Gen.listOfN(50, Gen.choose(-100.0, 200.0))
    samples(valsGen).foreach { vals =>
      val df = vals.toDF("x")
      val out = Stats.histogram(df, "x", 0.0, 100.0, 7)
        .collect().map(r => r.getInt(0) -> r.getLong(1))
      assert(out.map(_._2).sum == vals.size)
      assert(out.forall { case (b, _) => b >= 0 && b < 7 })
    }
  }

  test("weighted quantile: result is an observed value, monotone in q") {
    val rowsGen = Gen.listOfN(30, Gen.zip(Gen.choose(0.0, 50.0), Gen.choose(1, 5)))
    samples(rowsGen).foreach { rows =>
      val df = rows.map { case (v, w) => ("g", v, w.toDouble) }.toDF("g", "v", "w")
      val qs = Seq(0.25, 0.5, 0.9).map { q =>
        Stats.weightedQuantile(df, "v", "w", Seq("g"), q).collect()(0).getDouble(1)
      }
      assert(qs == qs.sorted) // monotone
      qs.foreach(v => assert(rows.map(_._1).contains(v))) // an observed value
    }
  }

  test("rollup: grand total equals leaf-cell sum at every subtotal level") {
    samples(Gen.zip(catValues, catValues, weightsGen), 5).foreach { case (as, bs, ws) =>
      val df = as.lazyZip(bs).lazyZip(ws).toList.toDF("a", "b", "w")
      val out = MultiDim.rollupTabulation(df, Seq("a", "b"), Some("w")).collect()
      val leaves = out.filter(r => r.getInt(2) == 0 && r.getInt(3) == 0).map(_.getDouble(4)).sum
      val subA = out.filter(r => r.getInt(2) == 0 && r.getInt(3) == 1).map(_.getDouble(4)).sum
      val grand = out.filter(r => r.getInt(2) == 1 && r.getInt(3) == 1).map(_.getDouble(4)).sum
      assert(math.abs(leaves - ws.sum) < 1e-9)
      assert(math.abs(subA - ws.sum) < 1e-9)
      assert(math.abs(grand - ws.sum) < 1e-9)
    }
  }

  test("packSequences: token mass is conserved and packs never start past the budget") {
    val docGen = Gen.listOfN(60, Gen.choose(0, 40))
    samples(docGen, 5).foreach { lens =>
      val df = lens.zipWithIndex
        .map { case (n, i) => (i.toLong, Seq.fill(n)("w").mkString(" ")) }
        .toDF("doc_id", "text")
      val out = graft.scale.TextAnalysis.packSequences(df, "doc_id", "text", budget = 50, shards = 4)
        .select("doc_id", "shard", "token_count", "pack_id", "pack_offset")
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(out.length == lens.length)
      // token counts survive the packing untouched
      assert(out.map(_._3).sum == lens.map(_.toLong).sum)
      out.foreach { case (_, shard, _, packId, off) =>
        assert(shard >= 0 && shard < 4)
        assert(off >= 0 && off < 50) // a doc STARTS strictly inside its pack
        assert(packId >= 0)
      }
      // within a shard, (pack_id, offset) is non-decreasing in doc order
      out.groupBy(_._2).foreach { case (_, rows) =>
        val ordered = rows.sortBy(_._1).map(r => r._4 * 50 + r._5)
        assert(ordered.sameElements(ordered.sorted))
      }
    }
  }

  test("sampleByTokenBudget: kept is a subset, under-budget groups intact") {
    val lensGen = Gen.listOfN(50, Gen.choose(1, 20))
    samples(lensGen, 5).foreach { lens =>
      val df = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, Seq.fill(n)("w").mkString(" "), s"g${i % 3}")
      }.toDF("doc_id", "text", "source")
      val kept = graft.scale.Sampling.sampleByTokenBudget(
        df, "doc_id", "text", "source", Map("g0" -> 30L, "g1" -> 1000000L))
        .select("doc_id").as[Long].collect().toSet
      val all = (0 until lens.length).map(_.toLong).toSet
      assert(kept.subsetOf(all))
      // g1 is far under budget, g2 unmapped: both fully kept
      assert(all.filter(i => i % 3 == 1 || i % 3 == 2).subsetOf(kept))
    }
  }

  test("repetitionStats ratios live in [0,1] and distinct+dup are consistent") {
    val textGen = Gen.listOfN(30, Gen.oneOf("x", "y", "z", "w", "v")).map(_.mkString(" "))
    samples(textGen, 8).zipWithIndex.foreach { case (txt, i) =>
      val df = Seq((i.toLong, txt)).toDF("doc_id", "text")
      val r = graft.scale.TextAnalysis.repetitionStats(df, "doc_id", "text").head()
      val ratios = Seq(2, 3, 4, 6, 7).map(r.getDouble)
      ratios.foreach(v => assert(v >= 0.0 && v <= 1.0))
      // a token is duplicated iff it is not unique: distinct + dup bounds
      val (distinctRatio, dupRatio) = (r.getDouble(2), r.getDouble(4))
      assert(distinctRatio + dupRatio >= 1.0 - 1e-9) // uniques + dup mass cover all
    }
  }

  test("chunkDocuments covers every token exactly; overlaps agree") {
    val lenGen = Gen.listOfN(12, Gen.choose(0, 60))
    samples(lenGen, 5).foreach { lens =>
      val df = lens.zipWithIndex
        .map { case (n, i) => (i.toLong, (0 until n).map(t => s"t$t").mkString(" ")) }
        .toDF("doc_id", "text")
      val chunks = graft.scale.TextAnalysis.chunkDocuments(df, "doc_id", "text", chunk = 16, overlap = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      lens.zipWithIndex.foreach { case (n, i) =>
        val cs = chunks.filter(_._1 == i.toLong).sortBy(_._2)
        if (n == 0) assert(cs.isEmpty)
        else {
          // chunk i starts at i*step and carries min(16, n - start) tokens:
          // together they tile [0, n) with overlap-4 seams
          val covered = cs.flatMap { case (_, ci, nt, _) =>
            (ci * 12 until ci * 12 + nt).map(_.toInt)
          }.toSet
          assert(covered == (0 until n).toSet)
          // chunk text really is the token slice it claims to be
          cs.foreach { case (_, ci, nt, txt) =>
            val want = (ci * 12 until ci * 12 + nt).map(t => s"t$t").mkString(" ")
            assert(txt == want)
          }
        }
      }
    }
  }

  test("int8 quantization error is bounded by scale/2 elementwise") {
    val vecGen = Gen.listOfN(16, Gen.choose(-100.0, 100.0).map(_.toFloat))
    samples(vecGen, 8).zipWithIndex.foreach { case (v, i) =>
      if (v.exists(_ != 0f)) {
        val df = Seq((i.toLong, v.toArray)).toDF("vec_id", "embedding")
        val r = graft.scale.Embeddings.quantizeInt8Table(df, "vec_id", "embedding").head()
        val scale = r.getDouble(1)
        assert(r.getDouble(3) <= scale / 2 + 1e-6) // halfUp never strays past scale/2
        assert(r.getDouble(2) > 0.95) // 16-dim reconstruction stays near-parallel
      }
    }
  }

  test("BPE invariants: token concat reconstructs words; stats consistent; vocab dense") {
    val textGen = Gen.listOfN(12,
      Gen.listOfN(6, Gen.oneOf("a", "b", "c", " ", "th", "e ")).map(_.mkString))
    samples(textGen, 4).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val merges = graft.scale.TextAnalysis.bpeFitFast(df, "text", 5)
      // tokens concatenated per doc == the lowered words concatenated
      // (merging never creates or destroys characters)
      val got = graft.scale.TextAnalysis.bpeTokens(df, "doc_id", "text", merges)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).mkString).toMap
      val want = texts.zipWithIndex.map { case (t, i) =>
        val stripped = t.replace("|", "")
        val joined =
          if (stripped.trim.isEmpty) ""
          else java.util.regex.Pattern.compile("\\s+")
            .split(org.apache.spark.unsafe.types.UTF8String
              .fromString(stripped).trim().toLowerCase.toString, -1).mkString
        i.toLong -> joined
      }.toMap
      assert(got == want)
      // stats: n_units between n_words (full merge) and n_chars (no merge)
      graft.scale.TextAnalysis.bpeEncode(df, "doc_id", "text", merges)
        .collect().foreach { r =>
          val (nw, nu, nc) = (r.getLong(1), r.getLong(2), r.getLong(3))
          if (nc >= nw) assert(nu >= nw && nu <= nc, s"$nw <= $nu <= $nc")
        }
      // vocab ids are dense 0..n-1 and the id stream only uses them
      val vocab = graft.scale.TextAnalysis.bpeVocab(df, "doc_id", "text", merges)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(vocab.values.toSeq.sorted == (0L until vocab.size.toLong))
      val ids = graft.scale.TextAnalysis.bpeIdsWithVocab(df, "doc_id", "text", merges, vocab)
        .select("token_id").collect().map(_.getLong(0)).toSet
      assert(ids.subsetOf(vocab.values.toSet))
    }
  }

  test("native jaccard is symmetric, bounded, and 1 on self") {
    val arrGen = Gen.listOfN(15, Gen.choose(1L, 20L)).map(_.distinct.sorted)
    samples(Gen.zip(arrGen, arrGen)).foreach { case (a, b) =>
      if (a.nonEmpty && b.nonEmpty) {
        val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
        val Seq(ab, ba, aa) = df.select(
          graft.functions.Native.jaccardSorted(col("a"), col("b")),
          graft.functions.Native.jaccardSorted(col("b"), col("a")),
          graft.functions.Native.jaccardSorted(col("a"), col("a")))
          .head.toSeq.map(_.asInstanceOf[Double])
        assert(ab == ba && ab >= 0.0 && ab <= 1.0 && aa == 1.0)
      }
    }
  }

  test("forgetPropagate: deletion is cluster-closed and exactly seeds+propagated leave") {
    val clusterGen = Gen.listOfN(30, Gen.choose(0L, 9L))
    val seedGen = Gen.listOfN(4, Gen.choose(0L, 34L))
    samples(Gen.zip(clusterGen, seedGen), 6).foreach { case (cl, seeds) =>
      val clustersDf = cl.zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toDF("id", "cluster")
      val got = graft.scale.Dedup.forgetPropagate(clustersDf, seeds.toDF("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      // every id present exactly once
      assert(got.map(_._1).sorted.toSeq == (0L until 30L).toSeq)
      val inCorpusSeeds = seeds.toSet.filter(_ < 30L)
      // seeds labeled seed; cluster-closure: a cluster is all-kept or all-deleted
      assert(got.filter(g => inCorpusSeeds.contains(g._1)).forall(_._3 == "seed"))
      got.groupBy(_._2).values.foreach { members =>
        val statuses = members.map(_._3).toSet
        assert(statuses == Set("kept") || !statuses.contains("kept"))
      }
      // nothing propagates in a cluster without a seed
      val seedClusters = got.filter(g => inCorpusSeeds.contains(g._1)).map(_._2).toSet
      got.filter(_._3 == "propagated").foreach(g => assert(seedClusters.contains(g._2)))
    }
  }

  test("spanCorruption: masked+kept token mass partitions the doc on random text") {
    val wordGen = Gen.listOfN(24, Gen.oneOf("ab", "cde", "f", "ghi", "jklm"))
    samples(wordGen, 6).zipWithIndex.foreach { case (words, i) =>
      val df = Seq((i.toLong, words.mkString(" "))).toDF("doc_id", "text")
      val r = graft.scale.TextAnalysis.spanCorruptionTable(df, "doc_id", "text").head
      val (nt, ns, nm, inp, tgt) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))
      assert(nt == words.length.toLong)
      // kept tokens in input + masked tokens in target == all tokens
      val sentinelRe = "<extra_id_\\d+>"
      val keptToks = inp.split("\\s+").filter(t => t.nonEmpty && !t.matches(sentinelRe))
      val maskedToks = tgt.split("\\s+").filter(t => t.nonEmpty && !t.matches(sentinelRe))
      assert(keptToks.length + maskedToks.length == nt)
      assert(maskedToks.length.toLong == nm)
      assert(ns <= (nt + 2) / 3 && nm <= nt)
    }
  }

  test("perplexityBuckets: buckets partition each language; boundaries respect order") {
    val langGen = Gen.listOfN(36, Gen.oneOf("en", "fr"))
    val textGen = Gen.listOfN(36, Gen.listOfN(6, Gen.oneOf("aa", "bb", "cc", "dd"))
      .map(_.mkString(" ")))
    samples(Gen.zip(langGen, textGen), 4).foreach { case (ls, ts) =>
      val df = ls.zip(ts).zipWithIndex
        .map { case ((l, t), i) => (i.toLong, t, l) }.toDF("doc_id", "text", "lang")
      val got = graft.scale.Curation.perplexityBuckets(df, "doc_id", "text", "lang",
          df.filter(col("doc_id") % 2 === 0), "text", vocabSize = 50)
        .collect().map(r => (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          r.getString(3)))
      assert(got.length == 36)
      got.groupBy(_._1).values.foreach { perLang =>
        val scored = perLang.filter(_._2.isDefined)
        def scores(b: String) = scored.filter(_._3 == b).map(_._2.get)
        val (h, m, t) = (scores("head"), scores("middle"), scores("tail"))
        if (h.nonEmpty && m.nonEmpty) assert(h.min > m.max)
        if (m.nonEmpty && t.nonEmpty) assert(m.min > t.max)
        if (h.nonEmpty && t.nonEmpty) assert(h.min > t.max)
        assert((h ++ m ++ t).length == scored.length) // partition, no 4th bucket
      }
    }
  }

  test("compactionPlan invariants: partition of the manifest, bounded groups, monotone ids") {
    val byteGen = Gen.listOfN(30, Gen.choose(1L, 900L))
    samples(byteGen, 6).foreach { bytes =>
      val man = bytes.zipWithIndex.map { case (b, i) => (s"d${i % 3}", f"p$i%03d", b) }
        .toDF("dir", "path", "bytes")
      val plan = Layout.compactionPlan(man, "dir", "path", "bytes", targetBytes = 1000L)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(plan.length == bytes.length) // 1:1 with the manifest
      plan.groupBy(_._1).foreach { case (_, files) =>
        val sorted = files.sortBy(_._2)
        // group ids are monotone non-decreasing in path order (contiguity)
        assert(sorted.map(_._4).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
        // a group never exceeds target + one file (files are atomic)
        sorted.groupBy(_._4).values.foreach { g =>
          val total = g.map(_._3).sum
          assert(g.length == 1 || total - g.map(_._3).max < 1000L,
            s"group over target even without its last file: $g")
        }
      }
    }
  }

  test("saltAdvisor invariants: shares bounded by the total, salts cover the counts") {
    val keyGen = Gen.listOfN(60, Gen.choose(0L, 6L))
    samples(keyGen, 6).foreach { ks =>
      val rows = Skew.saltAdvisor(ks.toDF("k"), "k", rowsPerTask = 8L, topK = 10)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      assert(rows.map(_._2).sum <= 1000000L)    // micro shares can't exceed 100%
      rows.foreach { case (n, _, salt, skewed) =>
        assert(salt * 8L >= n)                  // salts cover the key's rows
        assert((salt - 1L) * 8L < n)            // ...with no slack bucket
        assert(skewed == (n > 8L))
      }
    }
  }

  test("rrf fusion invariants: score bounds and consensus dominance") {
    val listGen = Gen.listOfN(6, Gen.choose(100L, 110L)).map(_.distinct)
    samples(Gen.zip(listGen, listGen), 6).foreach { case (docsA, docsB) =>
      val la = docsA.zipWithIndex.map { case (d, i) => (1L, d, i + 1) }.toDF("query_id", "doc_id", "rank")
      val lb = docsB.zipWithIndex.map { case (d, i) => (1L, d, i + 1) }.toDF("query_id", "doc_id", "rank")
      val fused = graft.scale.Similarity.rrfFuse(la, lb, "query_id", "doc_id")
        .collect().map(r => r.getLong(1) -> r.getDouble(4)).toMap
      assert(fused.keySet == (docsA ++ docsB).toSet)
      assert(fused.values.forall(v => v > 0.0 && v <= 2.0 / 61.0))
      // with short lists (k ≤ 6: 2/(60+k) > 1/61), EVERY consensus doc
      // outscores EVERY single-list doc — the RRF property that makes
      // it a consensus combiner
      val both = docsA.toSet & docsB.toSet
      val onlyOne = fused.keySet -- both
      for (c <- both; s <- onlyOne) assert(fused(c) > fused(s),
        s"consensus doc $c (${fused(c)}) not above single-list $s (${fused(s)})")
    }
  }

  test("resampleGapFill: contiguous lattice per key, observed mass conserved, ffill total") {
    val tsGen = Gen.listOfN(25, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 400000L),
      Gen.choose(-50.0, 50.0)))
    samples(tsGen, 6).foreach { rows =>
      val df = rows.zipWithIndex.map { case ((k, s, v), i) =>
        (k, new java.sql.Timestamp(s * 1000L), i.toLong, v) }
        .toDF("user_id", "ts", "event_id", "value")
      val out = TimeSeries.resampleGapFill(df, "user_id", "ts", "value", 3600L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long])))
      // lattice contiguous per key
      out.groupBy(_._1).foreach { case (_, rs) =>
        val bs = rs.map(_._2).sorted
        assert(bs.zip(bs.tail).forall { case (a, b) => b == a + 1 })
        // first lattice row is an observation, so ffill never null
        assert(rs.forall(_._5.isDefined))
      }
      // event count conserved; gap rows carry no sum
      assert(out.map(_._3).sum === rows.size)
      assert(out.filter(_._3 == 0).forall(_._4.isEmpty))
      // observed micro mass conserved exactly
      val expected = rows.groupBy(r => (r._1, r._2 * 1000000L / 3600000000L))
        .values.map(_.map(r => math.floor(r._3 * 1000000.0 + 0.5).toLong).sum).sum
      assert(out.flatMap(_._4).sum === expected)
    }
  }

  test("rankNormalize: pct in [0,1e6], strictly increasing in value per slice, ties sum to n") {
    val gen = Gen.listOfN(30, Gen.zip(Gen.oneOf("x", "y"), Gen.choose(0L, 12L)))
    samples(gen, 6).foreach { rows =>
      val df = rows.toDF("slice", "v")
      val out = Stats.rankNormalize(df, "slice", "v")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      out.groupBy(_._1).foreach { case (s, rs) =>
        val sorted = rs.sortBy(_._2)
        assert(sorted.forall(t => t._4 >= 0L && t._4 <= 1000000L))
        if (sorted.size > 1)
          assert(sorted.map(_._4).zip(sorted.tail.map(_._4)).forall { case (a, b) => a < b },
            s"pct not strictly increasing in $s: ${sorted.toSeq}")
        assert(sorted.map(_._3).sum === rows.count(_._1 == s))
      }
    }
  }

  test("btStrengths: ceiling at 1e6, all positive, more wins against same opponent never hurts") {
    val gen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 4L)))
      .map(_.filter(p => p._1 != p._2))
    samples(gen, 5).foreach { games =>
      if (games.size >= 3) {
        val df = games.toDF("winner", "loser")
        val s = graft.scale.Preferences.btStrengths(df, "winner", "loser", iterations = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
        assert(s.values.max === 1000000L, s"rescale ceiling: $s")
        assert(s.values.forall(_ > 0L), s"smoothing keeps strengths positive: $s")
      }
    }
  }

  test("equiDepthHistogram: bins partition the slice mass; bin ranges never overlap") {
    val gen = Gen.listOfN(60, Gen.choose(0L, 30L))
    samples(gen, 6).foreach { vals =>
      val df = vals.map(("s", _)).toDF("slice", "v")
      val out = Stats.equiDepthHistogram(df, "slice", "v", nbins = 5)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
        .sortBy(_._1)
      assert(out.map(_._2).sum === vals.size)
      out.zip(out.tail).foreach { case (a, b) =>
        assert(a._4 < b._3, s"bin ranges overlap: $out") }
    }
  }

  test("dpNoisyCounts: reproducible, bounded by the inverse-CDF tail, scale-monotone") {
    val gen = Gen.listOfN(40, Gen.oneOf("g1", "g2", "g3", "g4"))
    samples(gen, 5).foreach { vals =>
      val df = vals.toDF("g")
      val a = Privacy.dpNoisyCounts(df, "g", 500000L)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val b = Privacy.dpNoisyCounts(df, "g", 500000L)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(a === b)
      // |noise| <= b * ln(2*P) micro (u is at least 1/(2P) from the edges)
      val bound = (2.0 * math.log(2.0 * 1000003.0) * 1000000.0).toLong + 1
      assert(a.values.forall(v => math.abs(v._2) <= bound))
    }
  }

  test("uniquenessAudit invariants: counters partition the rows; dupes = rows - nulls - distinct") {
    val gen = Gen.listOfN(50,
      Gen.zip(Gen.option(Gen.choose(1L, 8L)), Gen.choose(1L, 3L)))
    samples(gen, 6).foreach { rows =>
      val df = rows.toDF("k1", "k2")
      val r = graft.ops.Contracts.uniquenessAudit(df, Seq("k1", "k2"), "u")
        .collect().head
      val (n, nulls, distinct, dupeKeys, dupeRows) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(n === rows.size.toLong)
      assert(nulls === rows.count(_._1.isEmpty).toLong)
      assert(dupeRows === n - nulls - distinct)
      val expectDistinct = rows.filter(_._1.isDefined).distinct.size.toLong
      assert(distinct === expectDistinct)
      assert(dupeKeys <= distinct)
    }
  }

  test("winRateWilson invariants: lo <= p <= hi, bounds inside [0,1]") {
    val gen = Gen.listOfN(30, Gen.zip(Gen.choose(1L, 6L), Gen.choose(1L, 6L)))
    samples(gen, 6).foreach { gs =>
      val games = gs.filter(g => g._1 != g._2).toDF("winner", "loser")
      if (games.count() > 0) {
        graft.scale.Preferences.winRateWilson(games, "winner", "loser")
          .collect().foreach { r =>
            val p = r.getLong(1).toDouble / r.getLong(3)
            val (lo, hi) = (r.getDouble(5), r.getDouble(6))
            assert(lo >= 0.0 && hi <= 1.0 && lo <= hi)
            // half-up 6dp rounding can move a bound by <= 5e-7
            assert(lo <= p + 5e-7 && p - 5e-7 <= hi)
          }
      }
    }
  }

  test("cohenKappa invariants: kappa in [-1e6, 1e6] micro, po=1 forces kappa=1e6") {
    val gen = Gen.listOfN(24,
      Gen.zip(Gen.choose(1L, 8L), Gen.oneOf("x", "y", "z"), Gen.oneOf("x", "y", "z")))
    samples(gen, 6).foreach { triples =>
      val ratings = triples.flatMap { case (item, la, lb) =>
        Seq((item, "a", la), (item, "b", lb)) }.toDF("item", "rater", "label")
      val r = graft.scale.Preferences.cohenKappa(
        ratings, "item", "rater", "label", "a", "b").collect().head
      if (!r.isNullAt(4)) {
        val k = r.getLong(4)
        assert(k >= -1000000L && k <= 1000000L, s"kappa out of range: $k")
        if (r.getLong(2) === 1000000L) assert(k === 1000000L)
      }
    }
  }

  test("splitLeakageAudit invariants: cells partition the joined pairs; scrub leaves its split clean") {
    val pairGen = Gen.listOfN(30, Gen.zip(Gen.choose(1L, 20L), Gen.choose(1L, 20L)))
    samples(pairGen, 6).foreach { raw =>
      val ps = raw.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      if (ps.nonEmpty) {
        val pairs = ps.toDF("id_a", "id_b")
        val asg = (1L to 20L).map(i => (i, Seq("train", "val", "test")((i % 3).toInt)))
          .toDF("doc_id", "split")
        val cells = graft.scale.Dedup.splitLeakageAudit(pairs, asg, "doc_id", "split")
          .collect()
        assert(cells.map(_.getLong(2)).sum === ps.size.toLong,
          "cell pair counts must partition the joined pair set")
        cells.foreach(c => assert(c.getLong(3) <= 2 * c.getLong(2),
          "a cell can never touch more docs than 2x its pairs"))
        val clean = graft.scale.Dedup.scrubLeakedDocs(pairs, asg, "doc_id", "split")
        val re = graft.scale.Dedup.splitLeakageAudit(pairs, clean, "doc_id", "split")
          .filter(col("is_leak") &&
            (col("split_a") === "train" || col("split_b") === "train"))
        assert(re.count() === 0L, "after a train scrub no leak may touch train")
      }
    }
  }

  test("contextFitAudit invariants: kept+lost=total, fit and kept monotone in the context length") {
    val textGen = Gen.listOfN(25, Gen.choose(0, 12).map(n => ("w " * n).trim))
    samples(textGen, 6).foreach { texts =>
      val df = texts.toDF("text")
      val rows = graft.scale.TextAnalysis.contextFitAudit(df, "text", Seq(2, 5, 9))
        .orderBy("context_len").collect()
      rows.foreach { r =>
        assert(r.getLong(5) + r.getLong(6) === r.getLong(4), "kept + lost = total")
        assert(r.getLong(2) <= r.getLong(1), "fit count bounded by doc count")
      }
      assert(rows.map(_.getLong(2)).toSeq === rows.map(_.getLong(2)).sorted,
        "n_fit monotone in context length")
      assert(rows.map(_.getLong(5)).toSeq === rows.map(_.getLong(5)).sorted,
        "tokens_kept monotone in context length")
    }
  }

  test("krippendorffAlpha invariants: alpha <= 1e6, rater-name relabeling invariant, perfect = 1e6") {
    val gen = Gen.listOfN(30,
      Gen.zip(Gen.choose(1L, 10L), Gen.oneOf("a", "b", "c"), Gen.oneOf("x", "y", "z")))
    samples(gen, 6).foreach { triples =>
      val ratings = triples.toDF("item", "rater", "label")
      val r = graft.scale.Preferences.krippendorffAlpha(
        ratings, "item", "rater", "label").collect().head
      if (!r.isNullAt(4)) assert(r.getLong(4) <= 1000000L)
      // renaming raters permutes nothing alpha consumes (coincidences
      // are rater-anonymous): bit-identical output
      val renamed = triples.map { case (i, ra, l) => (i, ra + "_r", l) }
        .toDF("item", "rater", "label")
      val r2 = graft.scale.Preferences.krippendorffAlpha(
        renamed, "item", "rater", "label").collect().head
      assert(r.toSeq === r2.toSeq, "alpha must be rater-name-anonymous")
    }
  }

  test("seasonalProfile invariants: dow in [0,6], per-key counts partition the rows") {
    val gen = Gen.listOfN(30, Gen.zip(Gen.choose(1L, 4L),
      Gen.choose(-1000000L, 30000000L), Gen.choose(-50, 50).map(_.toDouble)))
    samples(gen, 6).foreach { rows =>
      val df = rows.map { case (k, sec, v) =>
        (k, new java.sql.Timestamp(sec * 1000L), v) }.toDF("k", "ts", "v")
      val prof = TimeSeries.seasonalProfile(df, "k", "ts", "v").collect()
      prof.foreach(r => assert(r.getLong(1) >= 0L && r.getLong(1) <= 6L))
      assert(prof.map(_.getLong(2)).sum === rows.size.toLong,
        "profile counts must partition the events")
    }
  }
}
