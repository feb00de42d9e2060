package graft.functions

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.scale.TextAnalysis
import graft.scale.TextAnalysis.BpeMerge

/** Pins the native BPE expressions ([[Bpe.BpeStats]]/[[Bpe.BpeTokens]])
  * to the composed nested-replace plan they replace — the executable
  * spec of the merge semantics and the shape the DuckDB oracle unrolls.
  */
class BpeNativeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Crafted corner-case texts: empty words from tabs (Java split keeps
    * leading/trailing empties for \s+ off position 0), stripped bars,
    * line terminators the wrapping regex skips, multi-code-unit code
    * points, and nulls. */
  private val edgeTexts = Seq(
    (1L, "the cat sat on the mat"),
    (2L, ""),
    (3L, "   "),
    (4L, "\t"),
    (5L, "a\tb"),
    (6L, "ab\tcd\t"),
    (7L, "a|b|c ||"),
    (8L, "héllo wörld"),
    (9L, "emoji 😀😀 x"),
    (10L, "aaa aaaa aa"),
    (11L, "x\u2028y middle"),
    (12L, "pre x\u0085y post\u2029"),
    (13L, null),
    (14L, "THE The the tHe"),
    (15L, " leading and trailing  "))

  private def edgeDf: DataFrame = edgeTexts.toDF("doc_id", "text")

  private def collectSorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.head match {
      case l: Long => l
      case other => fail(s"non-long id: $other")
    })

  private def assertSame(a: DataFrame, b: DataFrame): Unit =
    assert(collectSorted(a) == collectSorted(b))

  test("native bpeEncode == composed on a fitted vocabulary over edge-case texts") {
    val merges = TextAnalysis.bpeFit(
      edgeDf.filter($"text".isNotNull), "text", merges = 6)
    assert(merges.nonEmpty)
    assertSame(
      TextAnalysis.bpeEncode(edgeDf, "doc_id", "text", merges),
      TextAnalysis.bpeEncodeComposed(edgeDf, "doc_id", "text", merges))
    assertSame(
      TextAnalysis.bpeTokens(edgeDf, "doc_id", "text", merges),
      TextAnalysis.bpeTokensComposed(edgeDf, "doc_id", "text", merges))
  }

  test("native == composed on randomized corpora and vocab sizes") {
    val rnd = new scala.util.Random(4711)
    val alphabet = "abcde |\t\u2028"
    for (trial <- 0 until 4) {
      val docs = (0 until 40).map { i =>
        val len = rnd.nextInt(30)
        (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      }
      val df = docs.toDF("doc_id", "text")
      val merges = TextAnalysis.bpeFit(df, "text", merges = 3 + trial * 2)
      assertSame(
        TextAnalysis.bpeEncode(df, "doc_id", "text", merges),
        TextAnalysis.bpeEncodeComposed(df, "doc_id", "text", merges))
      assertSame(
        TextAnalysis.bpeTokens(df, "doc_id", "text", merges),
        TextAnalysis.bpeTokensComposed(df, "doc_id", "text", merges))
    }
  }

  test("adversarial table (side references a LATER merge's output) routes to sequential") {
    // rank 0 consumes "xy" which only rank 1 can create: greedy applied
    // naively would merge "qxy" to one unit; sequential (= composed)
    // leaves [q, xy]. canUseGreedy must reject this table.
    val merges = Seq(BpeMerge(0, "q", "xy", 9), BpeMerge(1, "x", "y", 9))
    assert(!new Bpe.MergeTable(Array("q", "x"), Array("xy", "y")).canUseGreedy)
    val df = Seq((1L, "qxy")).toDF("doc_id", "text")
    assertSame(
      TextAnalysis.bpeTokens(df, "doc_id", "text", merges),
      TextAnalysis.bpeTokensComposed(df, "doc_id", "text", merges))
    val units = TextAnalysis.bpeTokens(df, "doc_id", "text", merges)
      .head.getSeq[String](1)
    assert(units == Seq("q", "xy"))
  }

  test("duplicate merge pair routes to sequential and matches composed") {
    val merges = Seq(BpeMerge(0, "a", "b", 9), BpeMerge(1, "a", "b", 9))
    assert(!new Bpe.MergeTable(Array("a", "a"), Array("b", "b")).canUseGreedy)
    val df = Seq((1L, "abab ab")).toDF("doc_id", "text")
    assertSame(
      TextAnalysis.bpeEncode(df, "doc_id", "text", merges),
      TextAnalysis.bpeEncodeComposed(df, "doc_id", "text", merges))
  }

  test("fit-produced tables take the greedy path") {
    val df = Seq((1L, "the cat sat on the mat the hat")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeFit(df, "text", merges = 6)
    val t = new Bpe.MergeTable(
      merges.map(_.left).toArray, merges.map(_.right).toArray)
    assert(t.canUseGreedy)
  }

  test("pathological unbroken word: heap-greedy matches composed and stays fast") {
    // a 60k-char single "word" (the base64/DNA-blob shape web crawls
    // contain) — the rescan-per-merge form would be O(len^2) here; the
    // heap form must stay sub-second and bit-identical
    val blob = "ab" * 30000
    val df = Seq((1L, blob), (2L, "ab abab")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeFitFast(df, "text", 6)
    assert(merges.nonEmpty)
    assertSame(
      TextAnalysis.bpeEncode(df, "doc_id", "text", merges),
      TextAnalysis.bpeEncodeComposed(df, "doc_id", "text", merges))
    // run-merge semantics on the blob: "ab"->"abab"->"abababab" chains
    // collapse leftmost-first; just pin the unit count is consistent
    val n = TextAnalysis.bpeEncode(df, "doc_id", "text", merges)
      .filter($"doc_id" === 1L).head.getLong(2)
    assert(n >= 1L && n <= blob.length.toLong)
  }

  test("SQL surface: bpe_stats / bpe_tokens with literal merge arrays") {
    val row = spark.sql(
      """SELECT bpe_stats('the the x', array('t','th'), array('h','e')) AS s,
        |       bpe_tokens('the the x', array('t','th'), array('h','e')) AS t""".stripMargin)
      .head
    val s = row.getStruct(0)
    // "the" -> t,h,e -> th,e -> the: 1 unit per "the", plus "x"
    assert(s.getLong(0) == 3L && s.getLong(1) == 3L && s.getLong(2) == 7L)
    assert(row.getSeq[String](1) == Seq("the", "the", "x"))
  }
}
