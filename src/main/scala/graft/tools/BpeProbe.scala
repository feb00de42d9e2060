package graft.tools

import org.apache.spark.sql.functions._

import graft.scale.TextAnalysis
import graft.scale.TextAnalysis.BpeMerge

/** Evidence probe for the native BPE-encode expression: the composed
  * nested-replace plan is O(merges) regex passes per word and an
  * expression tree as deep as the vocabulary — it cannot reach a
  * production 32k-merge table. The native greedy loop's cost depends
  * only on the merges that actually APPLY to each word.
  *
  * Training a 1k-round vocabulary with [[TextAnalysis.bpeFit]] would
  * itself take 1k corpus aggregates, so the probe fits one driver-
  * locally over the collected word-frequency table (the classic
  * Sennrich fast-fit input — ONE corpus aggregation, then local
  * rounds). Sides always exist in the evolving representation and
  * duplicate-output merges are skipped, so
  * [[graft.functions.Bpe.MergeTable.canUseGreedy]] holds and every
  * prefix of the table is fit-consistent.
  *
  * Prints one line per arm: native at 6 / 1024 / 8192 merges over the
  * full documents table, composed at 6 over the full table, and
  * composed at 256 merges over a 200-doc slice (already deep enough to
  * show the blow-up; larger counts stall janino or the analyzer).
  * Not part of the library surface.
  */
object BpeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession(8)
    val docs = graft.io.Sources.table(spark, sfDir, "documents").select("doc_id", "text")
    docs.persist(); docs.count()

    // Synthesize a deep fit-consistent table: collect the word-frequency
    // table ONCE (the classic Sennrich fast-fit input), then run a
    // driver-local BPE fit over it — thousands of rounds in seconds,
    // where the distributed trainer would need one corpus aggregate per
    // round. Sides always exist in the evolving representation, so the
    // table is fit-consistent; merges whose output string collides with
    // an earlier one are skipped to keep the greedy precondition
    // (canUseGreedy) intact.
    val wordCounts = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2 && !col("w").contains("|"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w")).limit(20000).collect()
    var reps: Array[(Array[String], Long)] = wordCounts.map { r =>
      (r.getString(0).map(_.toString).toArray, r.getLong(1))
    }
    val table = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    val outputs = scala.collection.mutable.HashSet.empty[String]
    var dry = false
    while (table.size < 8192 && !dry) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((u, c) <- reps; i <- 0 until u.length - 1)
        counts.updateWith((u(i), u(i + 1)))(v => Some(v.getOrElse(0L) + c))
      val candidates = counts.iterator
        .filter { case ((l, r), c) => c >= 2 && !outputs.contains(l + r) }
        .toSeq.sortBy { case ((l, r), c) => (-c, l, r) }
      if (candidates.isEmpty) dry = true
      else {
        val ((l, r), c) = candidates.head
        outputs += (l + r)
        table += BpeMerge(table.size, l, r, c)
        reps = reps.map { case (u, cnt) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < u.length) {
            if (i < u.length - 1 && u(i) == l && u(i + 1) == r) { out += (l + r); i += 2 }
            else { out += u(i); i += 1 }
          }
          (out.toArray, cnt)
        }
      }
    }
    val learned = table.size
    // The synthetic corpus has ~31 distinct words, so the real fit dries
    // quickly; pad the table to 8192 with fit-consistent chained merges
    // over an alphabet absent from the corpus. That is the realistic
    // shape of a production vocabulary — most of a 32k table never
    // applies to any given word — and it is exactly the case the
    // composed form still pays O(merges) regex passes for while the
    // native greedy loop pays nothing (no adjacent pair is ranked).
    var chain = "α" // α
    var nextCp = 0x3b2
    while (table.size < 8192) {
      val c = new String(Character.toChars(nextCp))
      if (!outputs.contains(chain + c)) {
        table += BpeMerge(table.size, chain, c, 1L)
        outputs += (chain + c)
        chain = chain + c
      }
      nextCp += 1
      if (nextCp % 64 == 0) chain = new String(Character.toChars(0x3b1))
    }
    val mergeTable: Seq[BpeMerge] = table.toSeq
    println(s"[bpeprobe] merge table: $learned learned from $sfDir word table, padded to ${mergeTable.size}")
    require(new graft.functions.Bpe.MergeTable(
      mergeTable.map(_.left).toArray, mergeTable.map(_.right).toArray).canUseGreedy,
      "probe table must satisfy the greedy precondition")

    def time(name: String)(body: => Long): Double = {
      val t0 = System.nanoTime()
      val n = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[bpeprobe] $name rows=$n time=$sec%.2f s")
      sec
    }

    def sumUnits(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum("n_units")).head.getLong(0)

    for (m <- Seq(6, 1024, 8192); if m <= mergeTable.size)
      time(s"native_${m}_merges_full_corpus") {
        sumUnits(TextAnalysis.bpeEncode(docs, "doc_id", "text", mergeTable.take(m)))
      }
    time("composed_6_merges_full_corpus") {
      sumUnits(TextAnalysis.bpeEncodeComposed(docs, "doc_id", "text", mergeTable.take(6)))
    }
    // parity cross-check on the synthesized table (spec covers fitted
    // tables; this covers the synthetic ranking at depth 256)
    val slice = docs.orderBy("doc_id").limit(200).persist()
    slice.count()
    val n256 = TextAnalysis.bpeEncode(slice, "doc_id", "text", mergeTable.take(256))
      .orderBy("doc_id").collect().toSeq
    try {
      val t0 = System.nanoTime()
      val c256 = TextAnalysis.bpeEncodeComposed(slice, "doc_id", "text", mergeTable.take(256))
        .orderBy("doc_id").collect().toSeq
      println(f"[bpeprobe] composed_256_merges_200_docs time=${(System.nanoTime() - t0) / 1e9}%.2f s parity=${n256 == c256}")
    } catch {
      case e: Throwable =>
        println(s"[bpeprobe] composed_256_merges_200_docs FAILED: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
    // the composed form at a four-digit vocabulary: expected to stall or
    // fail outright (depth-1024 nested lambda plan) — run on 50 docs so
    // a "merely slow" outcome stays bounded
    try {
      val tiny = slice.limit(50)
      val t0 = System.nanoTime()
      val n = TextAnalysis.bpeEncodeComposed(tiny, "doc_id", "text", mergeTable.take(1024)).count()
      println(f"[bpeprobe] composed_1024_merges_50_docs rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    } catch {
      case e: Throwable =>
        println(s"[bpeprobe] composed_1024_merges_50_docs FAILED: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
    spark.stop()
  }
}
