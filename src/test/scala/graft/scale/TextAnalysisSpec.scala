package graft.scale

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("tokens: whitespace split, lowercased, empty text -> empty array") {
    val df = Seq("  Hello   World ", "", "one").toDF("t")
    val got = df.select(size(TextAnalysis.tokens(col("t")))).collect().map(_.getInt(0))
    assert(got.toSeq == Seq(2, 0, 1))
  }

  test("contextFitAudit: per-length fit counts and truncation waste; null text = 0 tokens") {
    val df = Seq(Some("one"), Some("a b c"), Some("v w x y z"), None)
      .toDF("text")
    // token counts 1, 3, 5, 0 -> total 9
    val got = TextAnalysis.contextFitAudit(df, "text", Seq(2, 4))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    // L=2: fits {1,0}; kept 1+2+2+0=5, lost 4; fit 2e6 div 4
    assert(got(2L) === ((4L, 2L, 500000L, 9L, 5L, 4L)))
    // L=4: fits {1,3,0}; kept 1+3+4+0=8, lost 1
    assert(got(4L) === ((4L, 3L, 750000L, 9L, 8L, 1L)))
    // config guards: empty/negative/duplicate lengths fail fast
    intercept[IllegalArgumentException](TextAnalysis.contextFitAudit(df, "text", Nil))
    intercept[IllegalArgumentException](TextAnalysis.contextFitAudit(df, "text", Seq(0)))
    intercept[IllegalArgumentException](TextAnalysis.contextFitAudit(df, "text", Seq(2, 2)))
  }

  test("langId: picks the language with most stopword hits, 'und' when none") {
    val df = Seq(
      (1L, "the cat and the dog is in that house"),
      (2L, "el que la de los una es aqui"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val got = TextAnalysis.langIdTable(df, "doc_id", "text")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got(1L) == "en")
    assert(got(2L) == "es")
    assert(got(3L) == "und")
  }

  test("quality: ratios and keep flag") {
    val df = Seq((1L, "good clean text with many plain tokens here"),
      (2L, "!!! ??? ###")).toDF("doc_id", "text")
    val got = TextAnalysis.qualityTable(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getBoolean(6)) // keep
    assert(!got(2L).getBoolean(6)) // all punctuation → dropped
    assert(got(2L).getDouble(3) > 0.5) // punct_ratio
  }

  test("gopherRules: per-rule measurements, conjunction, empty-doc nulls") {
    // 10 words, 35 chars, 5 distinct stopwords, all-alpha; x5 = 50 words
    val good = Array.fill(5)("the cat and dog have fun with that red house")
      .mkString(" ")
    val df = Seq(
      (1L, good),                        // passes every rule
      (2L, "the cat and that"),          // too short (n=4 < 50)
      (3L, ""),                          // empty: null ratios, keep=false
      (4L, good + " ## ## ## ## ## ##")  // 12 '#' / 56 words > 0.1
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRulesTable(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(1) == 50L)
    assert(got(1L).getDouble(2) == 3.5)       // 175 chars / 50 words
    assert(got(1L).getDouble(3) == 0.0)
    assert(got(1L).getDouble(4) == 1.0)
    assert(got(1L).getLong(5) == 5L)          // the,and,have,with,that
    assert(got(1L).getBoolean(6))
    assert(got(2L).getLong(1) == 4L && !got(2L).getBoolean(6))
    assert(got(3L).getLong(1) == 0L && got(3L).isNullAt(2) &&
      !got(3L).getBoolean(6))
    assert(got(4L).getLong(1) == 56L)
    assert(got(4L).getDouble(3) == 12.0 / 56) // only the symbol rule fires
    assert(got(4L).getDouble(4) == 50.0 / 56)
    assert(!got(4L).getBoolean(6))
  }

  test("redactPii: emails, urls, phones replaced with typed placeholders") {
    val df = Seq(
      (1L, "mail me at jane.doe+x@corp.example.org today"),
      (2L, "see https://a.example.com/path?q=1 for details"),
      (3L, "call +1 (555) 123-4567 now"),
      (4L, "nothing sensitive here")).toDF("doc_id", "text")
    val got = TextAnalysis.redactTable(df, "doc_id", "text")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == "mail me at <EMAIL> today" && got(1L)._3 == 1)
    assert(got(2L)._2 == "see <URL> for details")
    assert(got(3L)._2 == "call <PHONE> now")
    assert(got(4L)._2 == "nothing sensitive here" && got(4L)._3 == 0)
  }

  test("tfidf: distinctive tokens outrank ubiquitous ones") {
    val df = Seq(
      (1L, "common common alpha"),
      (2L, "common common beta"),
      (3L, "common common gamma")).toDF("doc_id", "text")
    val top1 = TextAnalysis.tfidfTopK(df, "doc_id", "text", k = 1)
      .select("doc_id", "token").as[(Long, String)].collect().toMap
    // "common" appears in every doc → idf 0; the unique token wins
    assert(top1 == Map(1L -> "alpha", 2L -> "beta", 3L -> "gamma"))
  }

  test("unigramLogProb: hand-computed scores, OOV counting, vocab cap, empty doc") {
    // reference: "a a b" + "a c" → counts a=3, b=1, c=1; total=5, V=3
    // p(a)=(3+1)/9, p(b)=p(c)=2/9, OOV=1/9
    val ref = Seq((100L, "a a b"), (101L, "a c")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b"),      // in-vocab only
      (2L, "a z"),      // one OOV token
      (3L, "")          // no tokens
    ).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProbTable(docs, "doc_id", "text", ref, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    def lp6(p: Double): Long = math.floor(math.log(p) * 1e6 + 0.5).toLong
    def avg(scaled: Long, n: Long): Double =
      math.floor((scaled.toDouble / 1e6 / n) * 1e9 + 0.5) / 1e9
    assert(got(1L)._1 == 2L && got(1L)._2 == 0L)
    assert(got(1L)._3 == avg(lp6(4.0 / 9) + lp6(2.0 / 9), 2))
    assert(got(2L)._1 == 2L && got(2L)._2 == 1L)
    assert(got(2L)._3 == avg(lp6(4.0 / 9) + lp6(1.0 / 9), 2))
    assert(got(3L)._1 == 0L && got(3L)._2 == 0L && got(3L)._3.isNaN)
    // vocab cap: with vocabSize = 1 only 'a' stays in vocab (count
    // desc, token asc); total=3, V=1 → p(a)=4/5, OOV=1/5
    val capped = TextAnalysis.unigramLogProbTable(
      docs.filter(col("doc_id") =!= 3L), "doc_id", "text", ref, "text",
      vocabSize = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(capped(1L)._1 == 1L) // b is OOV now
    assert(capped(1L)._2 == avg(lp6(4.0 / 5) + lp6(1.0 / 5), 2))
  }

  test("unigramLogProb scoreNano: exact long == re-derived from avg_logp; null on empty") {
    val ref = Seq((100L, "a a b"), (101L, "a c")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b"), (2L, "a z"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProbTable(docs, "doc_id", "text", ref, "text",
      scoreNano = true)
    assert(got.columns.toSeq ==
      Seq("doc_id", "n_tokens", "n_oov", "avg_logp", "score_nano"))
    got.collect().foreach { r =>
      if (r.getLong(1) == 0L) assert(r.isNullAt(3) && r.isNullAt(4))
      else {
        // the exposed long is exactly the integer behind the 9-dp double
        assert(r.getLong(4) == math.floor(r.getDouble(3) * 1e9 + 0.5).toLong)
        assert(r.getLong(4) / 1e9 == r.getDouble(3))
      }
    }
  }

  test("bpeFit: hand-computed merges, deterministic tie-break, early stop") {
    // words: ab x3, cd x2, abc x2
    val docs = Seq((1L, "ab ab ab cd cd"), (2L, "abc abc")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeFit(docs, "text", merges = 10)
    // step 1: (a,b)=5; step 2: tie (ab,c)=2 vs (c,d)=2 -> left asc picks ab+c;
    // step 3: (c,d)=2; then nothing occurs twice -> early stop at 3
    assert(merges.map(m => (m.rank, m.left, m.right, m.pairCount)) ==
      Seq((0, "a", "b", 5L), (1, "ab", "c", 2L), (2, "c", "d", 2L)))
  }

  test("bpeFit greedy-left on runs; bpeEncode unit stats; '|' stripped") {
    val runs = Seq((1L, "aaa aaa aaa")).toDF("doc_id", "text")
    // |a||a||a| merges leftmost-first: (a,a)x2 per word -> 6; then (aa,a)x3
    val m = TextAnalysis.bpeFit(runs, "text", merges = 5)
    assert(m.map(x => (x.left, x.right, x.pairCount)) ==
      Seq(("a", "a", 6L), ("aa", "a", 3L)))
    val enc = TextAnalysis.bpeEncode(runs, "doc_id", "text", m)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    assert(enc == ((3L, 3L, 9L))) // 3 words, 1 unit each, 9 chars
    // delimiter chars in the input are stripped before tokenization
    val bars = Seq((1L, "a|b a|b")).toDF("doc_id", "text")
    val mb = TextAnalysis.bpeFit(bars, "text", merges = 1)
    assert(mb == Seq(TextAnalysis.BpeMerge(0, "a", "b", 2L)))
    // empty text: zero rows of stats damage
    val empty = Seq((1L, "")).toDF("doc_id", "text")
    val encE = TextAnalysis.bpeEncode(empty, "doc_id", "text", m)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    assert(encE == ((0L, 0L, 0L)))
  }

  test("bpeFit == plain-Scala reference BPE on randomized corpora") {
    // independent implementation of the same contract: greedy-left
    // merge, (count desc, left asc, right asc) argmax, stop below 2
    def referenceBpe(docs: Seq[String], k: Int): Seq[(String, String, Long)] = {
      var words: Seq[Array[String]] = docs
        .map(_.replace("|", ""))
        .flatMap(t => t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty))
        .map(_.map(_.toString).toArray)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var step = 0
      var done = false
      while (step < k && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        words.foreach { w =>
          var i = 0
          while (i < w.length - 1) { counts((w(i), w(i + 1))) += 1; i += 1 }
        }
        val best = counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
        best match {
          case Some(((l, r), c)) if c >= 2 =>
            out += ((l, r, c))
            words = words.map { w =>
              val buf = scala.collection.mutable.ArrayBuffer.empty[String]
              var i = 0
              while (i < w.length) {
                if (i < w.length - 1 && w(i) == l && w(i + 1) == r) { buf += l + r; i += 2 }
                else { buf += w(i); i += 1 }
              }
              buf.toArray
            }
            step += 1
          case _ => done = true
        }
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { trial =>
      val docs = Seq.fill(8)(
        Seq.fill(rnd.nextInt(9))(
          Seq.fill(1 + rnd.nextInt(6))(('a' + rnd.nextInt(3)).toChar).mkString)
          .mkString(" "))
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = TextAnalysis.bpeFit(df, "text", merges = 5)
        .map(m => (m.left, m.right, m.pairCount))
      val want = referenceBpe(docs, 5)
      assert(got == want, s"trial $trial diverged: corpus=$docs got=$got want=$want")
    }
  }

  test("fingerprint: stable under case/whitespace, distinct for distinct text") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "different text here"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.fingerprintTable(df, "doc_id", "text", k = 2)
      .select("doc_id", "fingerprint").as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L))
    assert(got(1L) != got(3L))
  }

  test("BPE-ish token budget: subword splits, contraction tails, >= word count") {
    val df = Seq(
      (1L, "don't stop"),         // don | 't | _stop → 3
      (2L, "abc123 x!"),          // abc | 123 | _x | ! → 4
      (3L, "hello world")         // hello | _world → 2
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenBudget(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (2L, 3L))
    assert(got(2L) == (2L, 4L))
    assert(got(3L) == (2L, 2L))
    assert(got.values.forall { case (ws, bp) => bp >= ws })
  }

  test("cleanCorpus: drops low-quality, wrong-language, and near-dup docs") {
    val en = "the cat sat of and is to in that on the mat again today"
    val df = Seq(
      (1L, en),                                   // keeper (en)
      (2L, en + " extra"),                        // near-dup of 1 → dropped
      (3L, "!!! ??? *** !!! ??? *** !!! ???"),    // punctuation junk → quality drop
      (4L, "el la de que y los es una casa verde ahora mismo"), // keeper (es)
      (5L, "der die das und ist nicht mit ein haus heute wieder") // de → lang drop
    ).toDF("doc_id", "text")
    val out = TextAnalysis.cleanCorpus(df, "doc_id", "text", Seq("en", "es"),
      k = 3, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 4L))
  }

  test("portable fingerprint: hand-computed rolling hash, whitespace/case invariant") {
    val df = Seq((1L, "ab"), (2L, "  AB "), (3L, "ba"), (4L, "")).toDF("doc_id", "t")
    val got = TextAnalysis.portableFingerprintTable(df, "doc_id", "t")
      .as[(Long, Long)].collect().toMap
    // "ab" -> (0*31+97)*31+98 = 3105
    assert(got(1L) == 97L * 31 + 98)
    assert(got(2L) == got(1L)) // trim+lowercase normalization
    assert(got(3L) == 98L * 31 + 97)
    assert(got(4L) == 0L) // empty text
  }

  test("dedupLines: first occurrence wins corpus-wide, blanks survive, order kept") {
    val df = Seq(
      (1L, "alpha\nshared line\nbeta"),
      (2L, "shared line\n\ngamma\nshared line"), // dup of doc 1's line + an internal dup
      (3L, "   \nalpha"),                        // whitespace-only line survives; alpha dropped
      (4L, "shared line")                        // fully deduped away → empty text
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dedupLines(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((3L, 3L, "alpha\nshared line\nbeta"))) // keeper doc untouched
    assert(got(2L) == ((4L, 2L, "\ngamma")))                  // both copies dropped, blank kept
    assert(got(3L) == ((2L, 1L, "   ")))                      // blank kept, alpha deduped
    assert(got(4L) == ((1L, 0L, "")))                         // emptied doc keeps its row
  }

  test("bigramLogProbTable: seen pair, unseen-in-context, unseen context, short doc") {
    // ref "a b a": bigrams (a,b),(b,a); V=2; every denom = cu+V+1 = 4
    val ref = Seq((100L, "a b a")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b"),  // seen bigram: ln(2/4)
      (2L, "b b"),  // unseen pair, seen context b: ln(1/4)
      (3L, "z q"),  // unseen context: ln(1/(V+1)) = ln(1/3)
      (4L, "solo")  // no bigram
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProbTable(docs, "doc_id", "text", ref, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(got(1L) == ((1L, 0L, Some(-0.693147))))
    assert(got(2L) == ((1L, 1L, Some(-1.386294))))
    assert(got(3L) == ((1L, 1L, Some(-1.098612))))
    assert(got(4L) == ((0L, 0L, None)))
  }

  test("bigramLogProbTable: word order separates what unigram scoring cannot") {
    val ref = Seq((100L, "the cat sat on the mat the cat sat on the mat")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "mat the on sat cat the") // same bag of tokens, scrambled
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProbTable(docs, "doc_id", "text", ref, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(1L) > got(2L), s"fluent doc must outscore scrambled: $got")
  }

  test("pmiPairs: hand-computed lift on a tiny corpus, canonical pair order") {
    val df = Seq((1L, "a b a b")).toDF("doc_id", "text")
    // window 2 pairs: (a,b)x3, (a,a), (b,b); P=5, N=4, c(a)=c(b)=2
    val got = TextAnalysis.pmiPairs(df, "doc_id", "text", window = 2, minCount = 1L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      ("a", "b", 3L, 2.4), // (3*4*4)/(5*2*2)
      ("a", "a", 1L, 0.8), // tie on lift -> term order breaks it
      ("b", "b", 1L, 0.8)))
  }

  test("pmiPairs: window bounds, minCount prune, sub-2-token docs contribute nothing") {
    val df = Seq(
      (1L, "x y z"),   // window=1: (x,y), (y,z) only — no (x,z)
      (2L, "solo"),
      (3L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.pmiPairs(df, "doc_id", "text", window = 1, minCount = 1L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("x", "y"), ("y", "z")))
    assert(TextAnalysis.pmiPairs(df, "doc_id", "text", window = 1, minCount = 2L, topK = 10)
      .count() == 0L)
  }

  test("stripBoilerplate: in-group chrome stripped everywhere, cross-group content kept") {
    val df = Seq(
      (1L, "siteA", "cookie banner\nreal content one"),
      (2L, "siteA", "cookie banner\nreal content two"),
      (3L, "siteA", "cookie banner\n\nreal content three"),
      (4L, "siteB", "cookie banner\nother text"), // same line, different group: only 1 doc there
      (5L, "siteB", "unique closing")
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.stripBoilerplate(df, "doc_id", "text", "source", minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // banner appears in 3 distinct siteA docs -> stripped from ALL of them
    assert(got(1L) == ((2L, 1L, "real content one")))
    assert(got(2L) == ((2L, 1L, "real content two")))
    assert(got(3L) == ((3L, 2L, "\nreal content three"))) // blank survives
    // siteB's single banner copy is content there (df=1 < 3)
    assert(got(4L) == ((2L, 2L, "cookie banner\nother text")))
    assert(got(5L) == ((1L, 1L, "unique closing")))
  }

  test("stripBoilerplate: within-doc repeats count once toward the doc-frequency") {
    val df = Seq(
      (1L, "s", "x\nx\nx"), // 3 occurrences but ONE doc -> df=1, survives
      (2L, "s", "y"),
      (3L, "s", "y"),
      (4L, "s", "y")        // y: df=3 -> stripped everywhere
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.stripBoilerplate(df, "doc_id", "text", "source", minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((3L, 3L, "x\nx\nx")))
    assert(got(2L) == ((1L, 0L, "")))
    assert(got(3L) == ((1L, 0L, "")))
    assert(got(4L) == ((1L, 0L, "")))
  }

  test("dedupLines: empty and null text") {
    val df = Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.dedupLines(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((1L, 1L, ""))) // "" splits to one blank line, which survives
    assert(got(2L) == ((0L, 0L, ""))) // null text → zero lines
  }

  test("normalizeText: NFC composition, control/zero-width strip, CRLF") {
    val df = Seq(
      (1L, "cafe\u0301"),               // decomposed -> precomposed \u00e9
      (2L, "caf\u00e9"),                // already NFC -> unchanged
      (3L, "a\u200Bbc\u0007\r\nd"),  // ZWSP + BEL stripped, CRLF -> LF
      (4L, "keep\ttab\nnewline")       // \t and \n survive
    ).toDF("doc_id", "text")
    val got = TextAnalysis.normalizeTable(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("caf\u00e9", 1L))) // one codepoint shorter after composition
    assert(got(2L) == (("caf\u00e9", 0L)))
    assert(got(3L) == (("abc\nd", 3L)))
    assert(got(4L) == (("keep\ttab\nnewline", 0L)))
    // dedup-poison collapses: decomposed and precomposed hash identically
    assert(got(1L)._1 == got(2L)._1)
  }

  test("canonicalizeUrl: tracking params, fragments, case, preserved params") {
    val cases = Seq(
      // tracking first, real param after → re-anchored
      "https://News.Example.com/Article?utm_source=x&id=9#frag" ->
        "https://news.example.com/Article?id=9",
      // run of tracking params, nothing left → query dropped entirely
      "https://a.com/p?utm_a=1&utm_b=2" -> "https://a.com/p",
      // tracking last among real params
      "http://A.com/x?page=2&gclid=zz" -> "http://a.com/x?page=2",
      // no scheme match → untouched except chain no-ops
      "ftp://Mixed.Case/Path" -> "ftp://Mixed.Case/Path",
      // dangling '?' cleanup
      "https://b.co/q?" -> "https://b.co/q")
    val df = cases.map(_._1).toDF("u")
    val got = df.select(TextAnalysis.canonicalizeUrl(col("u"))).as[String].collect()
    assert(got.toSeq == cases.map(_._2))
  }

  test("urlCanonStats: canonical key collapses tracking-variant URLs") {
    val df = Seq(
      (1L, "see https://Site.com/a?utm_source=x and more"),
      (2L, "see https://site.com/a?utm_source=y"),
      (3L, "see https://site.com/b")).toDF("doc_id", "text")
    val got = TextAnalysis.urlCanonStats(df, "doc_id", "text")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("https://site.com/a") == ((2L, 2L))) // variants collapsed
    assert(got("https://site.com/b") == ((1L, 1L)))
  }

  test("corpusReport: counts, rates, lang shares on a hand corpus") {
    val df = Seq(
      (1L, "the a of and is to in that extra"), // en, 9 toks, keep
      (2L, "the a of and is to in that extra"), // exact dup of 1
      (3L, ""),                                 // empty: und, not keep, fp 0
      (4L, "el la de que y los es una mas")     // es, keep
    ).toDF("doc_id", "text")
    val got = TextAnalysis.corpusReport(df, "text")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("n_docs") == 4.0)
    assert(got("n_empty_docs") == 1.0)
    assert(got("total_tokens") == 27.0)
    assert(got("quality_keep_rate") == 3.0 / 4)
    assert(got("exact_dup_rate") == 1.0 / 4) // 3 distinct fingerprints of 4 docs
    assert(got("lang_share_en") == 2.0 / 4)
    assert(got("lang_share_es") == 1.0 / 4)
    assert(got("lang_share_und") == 1.0 / 4)
    assert(got("lang_share_de") == 0.0 && got("lang_share_fr") == 0.0 && got("lang_share_zh") == 0.0)
  }

  test("bm25TopK: hand-checked scores, ranking, and zero-match exclusion") {
    val df = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana banana"),
      (4L, "cherry date elderberry fig")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(df, "doc_id", "text", "apple banana", k = 10)
      .as[(Long, Long)].collect()
    // independent recompute with plain scala math (same association)
    val (k1, b) = (1.2, 0.75)
    val avgdl = 13.0 / 4.0
    val idf = math.log(1.0 + (4.0 - 2.0 + 0.5) / 2.5) // both terms: df = 2
    def contrib(tf: Double, dl: Double): Long =
      math.floor(idf * ((tf * (k1 + 1.0)) /
        (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))) * 1000000.0 + 0.5).toLong
    val expected = Map(
      1L -> (contrib(2, 3) + contrib(1, 3)),
      2L -> contrib(1, 2),
      3L -> contrib(4, 4))
    assert(got.toMap == expected)
    // ranked by score desc: doc 1 (both terms) > doc 3 (heavy tf) > doc 2
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 2L)) // doc 4: no term, excluded
    assertThrows[IllegalArgumentException] {
      TextAnalysis.bm25TopK(df, "doc_id", "text", "   ")
    }
  }

  test("bm25TopKMany agrees exactly with the single-query form per query") {
    val df = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana banana"),
      (4L, "cherry date elderberry fig"),
      (5L, "")).toDF("doc_id", "text")
    val queries = Seq((10L, "apple banana"), (20L, "cherry"), (30L, "zzz"))
      .toDF("query_id", "qtext")
    val many = TextAnalysis.bm25TopKMany(df, "doc_id", "text", queries, "query_id", "qtext", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).groupBy(_._1)
    for ((qid, qtext) <- Seq(10L -> "apple banana", 20L -> "cherry")) {
      val single = TextAnalysis.bm25TopK(df, "doc_id", "text", qtext, k = 10)
        .as[(Long, Long)].collect().toSet
      val m = many.getOrElse(qid, Array.empty).map(t => (t._2, t._3)).toSet
      assert(m == single, s"query $qid diverged between the two forms")
    }
    assert(!many.contains(30L)) // no doc matches: no rows, same as single form
    // rank mirrors (score desc, id asc)
    val ranked = TextAnalysis.bm25TopKMany(df, "doc_id", "text", queries, "query_id", "qtext", k = 10)
      .filter(org.apache.spark.sql.functions.col("query_id") === 10L)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    assert(ranked == Seq(1L, 3L, 2L))
    // doc id type is preserved through the epilogue, not widened to long
    val intIds = df.withColumn("doc_id",
      org.apache.spark.sql.functions.col("doc_id").cast("int"))
    val outSchema = TextAnalysis.bm25TopKMany(intIds, "doc_id", "text",
      queries, "query_id", "qtext", k = 3).schema
    assert(outSchema("doc_id").dataType.typeName == "integer")
    // identically-named id columns would emit an ambiguous output
    assertThrows[IllegalArgumentException] {
      TextAnalysis.bm25TopKMany(df, "doc_id", "text",
        queries.withColumnRenamed("query_id", "doc_id"), "doc_id", "qtext")
    }
  }

  test("hashedClassifier: discriminating tokens move scores toward their class") {
    val df = Seq(
      (1L, "alpha alpha alpha beta", true),
      (2L, "alpha alpha gamma delta", true),
      (3L, "omega omega omega zeta", false),
      (4L, "omega zeta zeta kappa", false)
    ).toDF("doc_id", "text", "lab")
    val model = TextAnalysis.hashedClassifierFit(df, "text", "lab", buckets = 64)
    assert(model.count() == 64) // every bucket materialized
    val scores = TextAnalysis.hashedClassifierScore(df, "doc_id", "text", model, 64)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // positive-class docs must outscore negative-class docs
    assert(scores(1L) > 0 && scores(2L) > 0)
    assert(scores(3L) < 0 && scores(4L) < 0)
  }

  test("hashedClassifier: empty docs score 0 and unseen docs get prior-only weights") {
    val train = Seq((1L, "good text", true), (2L, "bad stuff", false)).toDF("doc_id", "text", "lab")
    val model = TextAnalysis.hashedClassifierFit(train, "text", "lab", buckets = 32)
    val apply = Seq((10L, ""), (11L, "never seen tokens")).toDF("doc_id", "text")
    val got = TextAnalysis.hashedClassifierScore(apply, "doc_id", "text", model, 32)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(10L) == ((0L, 0L)))
    assert(got(11L)._1 == 3L) // scored through unseen buckets, not dropped
  }

  test("maskRepeatedSpans: shared windows masked, unique and short docs kept whole") {
    val shared = "a b c d" // the repeated 4-token span
    val df = Seq(
      (1L, s"$shared tail one extra"),
      (2L, s"lead in $shared"),
      (3L, "totally unique words here now"),
      (4L, "tiny doc"),       // shorter than w: no windows, kept
      (5L, "")                // empty
    ).toDF("doc_id", "text")
    val got = TextAnalysis.maskRepeatedSpans(df, "doc_id", "text", w = 4, minCount = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // doc 1: windows at 0..3; only "a b c d" (start 0) repeats -> tokens 0-3 masked
    assert(got(1L) == ((7L, 1L, 3L, "tail one extra")))
    // doc 2: the shared span starts at position 2 -> "lead in" survives
    assert(got(2L) == ((6L, 1L, 2L, "lead in")))
    assert(got(3L) == ((5L, 0L, 5L, "totally unique words here now")))
    assert(got(4L) == ((2L, 0L, 2L, "tiny doc")))
    assert(got(5L) == ((0L, 0L, 0L, "")))
  }

  test("maskRepeatedSpans: intra-doc repetition counts toward the threshold") {
    val df = Seq(
      (1L, "p q r s x p q r s"), // "p q r s" occurs twice INSIDE one doc
      (2L, "other words entirely different")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.maskRepeatedSpans(df, "doc_id", "text", w = 4, minCount = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // both occurrences masked; the bridging 'x' (position 4) is covered
    // by no duplicated window (windows containing it are unique)
    assert(got(1L) == ((9L, 2L, 1L, "x")))
    assert(got(2L)._2 == 0L)
  }

  test("maskRepeatedSpansAgainstIndex: empty index equals the batch form; cross-wave spans mask") {
    val batch = Seq(
      (10L, "a b c d tail words here"),
      (11L, "fresh unique content entirely new")
    ).toDF("doc_id", "text")
    val emptyIdx = spark.emptyDataFrame
      .sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("span_hash",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType))))
    val viaEmpty = TextAnalysis.maskRepeatedSpansAgainstIndex(
      batch, emptyIdx, "doc_id", "text", w = 4, minCount = 2)
      .orderBy("doc_id").collect().toSeq
    val direct = TextAnalysis.maskRepeatedSpans(batch, "doc_id", "text", w = 4, minCount = 2)
      .orderBy("doc_id").collect().toSeq
    assert(viaEmpty == direct)
    // the accepted wave saw "a b c d" once: combined count 1+1 = 2 -> masked now
    val accepted = Seq((1L, "a b c d older context")).toDF("doc_id", "text")
    val idx = TextAnalysis.spanIndex(accepted, "doc_id", "text", w = 4)
    val got = TextAnalysis.maskRepeatedSpansAgainstIndex(
      batch, idx, "doc_id", "text", w = 4, minCount = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(4)))).toMap
    assert(got(10L) == ((1L, "tail words here")))
    assert(got(11L) == ((0L, "fresh unique content entirely new")))
  }

  test("spanIndex/mergeSpanIndexes: counts sum across waves") {
    val w1 = Seq((1L, "x y z w")).toDF("doc_id", "text")
    val w2 = Seq((2L, "x y z w"), (3L, "p q r s")).toDF("doc_id", "text")
    val merged = TextAnalysis.spanIndex(w1.unionByName(w2), "doc_id", "text", w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged.values.toSeq.sorted == Seq(1L, 2L)) // "x y z w" twice, "p q r s" once
  }

  test("maskRepeatedSpans: overlapping duplicated windows union their cover") {
    // "a b c d e" shared by two docs: with w=4 both windows (a..d, b..e)
    // duplicate -> all five tokens masked, n_dup_spans counts both
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.maskRepeatedSpans(df, "doc_id", "text", w = 4, minCount = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) == ((5L, 2L, 0L, "")))
    assert(got(2L) == ((5L, 2L, 0L, "")))
  }

  test("vocabCoverage: cumulative mass at each k, small-vocab clamp") {
    // counts: aa=4, bb=2, cc=1 -> total 7
    val df = Seq((1L, "aa aa bb"), (2L, "aa aa bb cc")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(df, "text", ks = Seq(1, 2, 10))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((4L, 0.571429)))
    assert(got(2L) == ((6L, 0.857143)))
    assert(got(10L) == ((7L, 1.0))) // k beyond vocab covers everything
  }

  test("langIdConfusion: diagonal for clean text, off-diagonal and und placed") {
    val df = Seq(
      (1L, "the cat is of the dog", "en"),  // en predicted en
      (2L, "el que la de y los", "es"),     // es predicted es
      (3L, "el que la de y los", "en"),     // mislabeled: lands (en, es)
      (4L, "zzz qqq xxx", "fr"),            // no stopword hits -> und
      (5L, "the cat", null)                 // null truth -> '' row
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langIdConfusion(df, "doc_id", "text", "lang")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("en", "en") -> 1L, ("es", "es") -> 1L, ("en", "es") -> 1L,
      ("fr", "und") -> 1L, ("", "en") -> 1L))
  }

  test("tokenizerFertility: per-lang units/word and chars/unit on a hand vocabulary") {
    val df = Seq(
      (1L, "the the", "en"), // "the" merges to ONE unit -> fertility 1
      (2L, "cat", "fr")      // no merges apply -> c|a|t, fertility 3
    ).toDF("doc_id", "text", "lang")
    val merges = Seq(
      TextAnalysis.BpeMerge(0, "t", "h", 9),
      TextAnalysis.BpeMerge(1, "th", "e", 9))
    val got = TextAnalysis.tokenizerFertility(df, "doc_id", "text", "lang", merges)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(got("en") == ((1L, 2L, 2L, 6L, 1.0, 3.0)))
    assert(got("fr") == ((1L, 1L, 3L, 3L, 3.0, 1.0)))
  }

  test("spanCorruptionTable: sentinels consecutive, target reconstructs, empty docs inert") {
    val df = Seq(
      (1L, "a b c d e f g h i j k l"), // 12 tokens -> 4 chunks of 3
      (2L, ""),
      (3L, "x y")                       // 2 tokens -> 1 short chunk
    ).toDF("doc_id", "text")
    val got = TextAnalysis.spanCorruptionTable(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    val (nt, ns, nm, inp, tgt) = got(1L)
    assert(nt == 12L)
    // structural invariants (mask positions are hash-determined):
    // sentinels are consecutive 0..ns-1 and appear in BOTH input and target
    val sent = (0 until ns.toInt).map(k => s"<extra_id_$k>")
    sent.foreach { s => assert(inp.contains(s) && tgt.contains(s)) }
    assert(!inp.contains(s"<extra_id_$ns>"))
    assert(nm <= nt && (ns == 0L) == (nm == 0L))
    // splicing target spans back into input sentinels reconstructs the text
    if (ns > 0) {
      val spans = tgt.split("<extra_id_\\d+> ").filter(_.nonEmpty).map(_.trim)
      val rebuilt = sent.zip(spans).foldLeft(inp) { case (acc, (s, sp)) =>
        acc.replace(s, sp) }
      assert(rebuilt == "a b c d e f g h i j k l")
    }
    assert(got(2L) == ((0L, 0L, 0L, "", "")))
    val (nt3, ns3, nm3, inp3, tgt3) = got(3L)
    assert(nt3 == 2L && (if (ns3 == 1L) inp3 == "<extra_id_0>" && tgt3 == "<extra_id_0> x y"
                         else inp3 == "x y" && tgt3 == ""))
    assert(nm3 == (if (ns3 == 1L) 2L else 0L))
  }

  test("readabilityTable: counts and the Flesch/FK chains on known prose") {
    val df = Seq(
      (1L, "The cat sat. The dog ran!"), // 2 sentences, 6 words, 6 syllables
      (2L, "xyz"),                       // vowel-less word still counts 1 syllable
      (3L, ""),                          // empty: zero counts, null scores
      (4L, "Ellipsis... then? more!!")   // punctuation runs collapse
    ).toDF("doc_id", "text")
    val got = TextAnalysis.readabilityTable(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    // flesch = 206.835 - 1.015*(6/2) - 84.6*(6/6) = 119.19
    // fk     = 0.39*(6/2) + 11.8*(6/6) - 15.59   = -2.62
    val (s1, w1, sy1, f1, k1) = got(1L)
    assert((s1, w1, sy1) == ((2L, 6L, 6L)))
    assert(math.abs(f1.get - 119.19) < 1e-9 && math.abs(k1.get - -2.62) < 1e-9)
    assert(got(2L)._1 == 1L && got(2L)._3 == 1L) // "xyz": 1 sentence-less segment... floor 1 syllable
    assert(got(3L) == ((0L, 0L, 0L, None, None)))
    assert(got(4L)._1 == 3L) // "Ellipsis", " then", " more" — trailing empty dropped
  }

  test("sliceEntropy: exact micro-summed Shannon entropy per slice") {
    val df = Seq(
      (1L, "a", "x x y y"),    // uniform over 2 types -> H = ln 2, norm 1
      (2L, "b", "z z z"),      // single type -> H = 0, norm null
      (3L, "a", null: String)  // null text contributes no tokens
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.sliceEntropy(df, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    // each -0.5*ln(0.5) term micro-rounds to 346574; 2 terms sum exactly
    assert(got("a") == ((4L, 2L, 0.693148, Some(1.000001))))
    assert(got("b") == ((3L, 1L, 0.0, None)))
  }

  test("classifierCalibration: separable corpus pins the rate extremes, empty docs excluded") {
    val docs = ((0L until 8L).map(i => (i, "good quality prose here", true)) ++
      (8L until 16L).map(i => (i, "spam junk garbage noise", false)) :+
      ((16L, "", true))).toDF("doc_id", "text", "lab")
    val model = TextAnalysis.hashedClassifierFit(docs, "text", "lab", buckets = 64)
    val got = TextAnalysis.classifierCalibration(
      docs, "doc_id", "text", "lab", model, buckets = 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // the empty doc is excluded: 16 docs across all bins
    assert(got.values.map(_._1).sum == 16L)
    // a separable corpus must calibrate to the extremes: every bin is
    // pure, positives score above negatives
    assert(got.values.forall(v => v._3 == 0.0 || v._3 == 1.0))
    val posBins = got.filter(_._2._3 == 1.0).keys
    val negBins = got.filter(_._2._3 == 0.0).keys
    assert(posBins.nonEmpty && negBins.nonEmpty && posBins.min > negBins.max)
    // mean_score sits inside its bin's band (bin = floor(mean*4))
    got.foreach { case (bin, (_, _, _, ms)) =>
      assert(ms >= bin / 4.0 - 1e-6 && ms < (bin + 1) / 4.0 + 1e-6,
        s"bin $bin mean_score $ms outside its band") }
  }

  test("sliceJsDivergence: identical slices at 0, overlap matches replay, disjoint pairs absent") {
    val df = Seq(
      (1L, "a", "x x y"), (2L, "b", "x z z"),
      (3L, "c", "x x y"),        // identical distribution to slice a
      (4L, "d", "q w")           // shares no vocabulary with anyone
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.sliceJsDivergence(df, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // the same double arithmetic as the operator, replayed on maps
    def js(ca: Map[String, Long], cb: Map[String, Long]): Double = {
      val (na, nb) = (ca.values.sum, cb.values.sum)
      val shared = (ca.keySet & cb.keySet).toSeq
      val t = shared.map { k =>
        val p = ca(k).toDouble / na.toDouble
        val q = cb(k).toDouble / nb.toDouble
        math.floor((p * math.log(2.0 * p / (p + q)) +
          q * math.log(2.0 * q / (p + q))) * 1e9 + 0.5).toLong
      }.sum
      val (sa, sb) = (shared.map(ca).sum, shared.map(cb).sum)
      val raw = (t / 1e9 + math.log(2.0) *
        ((na - sa).toDouble / na.toDouble + (nb - sb).toDouble / nb.toDouble)) / 2.0
      math.floor(raw * 1e6 + 0.5) / 1e6
    }
    val (ca, cb) = (Map("x" -> 2L, "y" -> 1L), Map("x" -> 1L, "z" -> 2L))
    assert(got.keySet == Set(("a", "b"), ("a", "c"), ("b", "c"))) // d never pairs
    assert(got(("a", "c")) == ((2L, 0.0)))                        // identical dists
    assert(got(("a", "b")) == ((1L, js(ca, cb))))
    assert(got(("b", "c")) == ((1L, js(cb, ca))))                 // symmetric
    assert(got(("a", "b"))._2 > 0.0 && got(("a", "b"))._2 < math.log(2.0))
  }

  test("filterBlockedDomainSuffix: subdomains blocked, lookalike domains and null text survive") {
    val df = Seq(
      (1L, "see https://cdn.news.example.com/x"), // subdomain of a blocked entry
      (2L, "link https://notexample.com/y"),      // suffix BOUNDARY: not a match
      (3L, "at https://example.com/z"),           // exact domain = its own suffix
      (4L, "no urls at all"),
      (5L, null: String),
      (6L, "mixed https://CDN.Example.COM/w")     // case-folded before matching
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.filterBlockedDomainSuffix(df, "text", Seq("example.com"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L))
  }

  test("blockedDomainAudit: per-entry URL/doc counts, dead entries zero-filled") {
    val df = Seq(
      (1L, "https://a.example.com/1 https://b.example.com/2"),
      (2L, "https://a.example.com/3 and https://other.org/x"),
      (3L, "nothing here")
    ).toDF("doc_id", "text")
    val block = Seq("example.com", "dead.net").toDF("domain")
    val got = TextAnalysis.blockedDomainAudit(df, "doc_id", "text", block)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "example.com" -> ((3L, 2L)), // 3 URL occurrences across 2 docs
      "dead.net" -> ((0L, 0L))))
  }

  test("bpeDecodeAudit: lossless on the fit corpus; vocab holes surface as lossy") {
    val docs = Seq(
      (1L, "s1", "the the cat"), (2L, "s1", "the hat"), (3L, "s2", "")
    ).toDF("doc_id", "source", "text")
    val merges = TextAnalysis.bpeFit(docs, "text", merges = 4)
    val vocab = TextAnalysis.bpeVocab(docs, "doc_id", "text", merges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def audit(v: Map[String, Long]) =
      TextAnalysis.bpeDecodeAudit(docs, "doc_id", "text", "source", merges, v)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val full = audit(vocab)
    // s1: both docs decode back to "thethecat"/"thehat" (9 + 6 chars);
    // s2: the empty doc decodes to "" and is lossless with 0 tokens
    assert(full("s1")._1 == 2L && full("s1")._2 == 2L && full("s1")._4 == 15L)
    assert(full("s1")._3 > 0L)
    assert(full("s2") == ((1L, 1L, 0L, 0L)))
    // every vocab entry is a token some doc emits, so removing any one
    // entry must turn at least one doc lossy — and must NOT throw
    val holed = audit(vocab - vocab.keys.min)
    assert(holed.values.map(_._2).sum < holed.values.map(_._1).sum)
    // decode through a non-injective vocab would be ambiguous: refuse
    val dup = vocab + ("__dup__" -> vocab.values.min)
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeDecodeAudit(docs, "doc_id", "text", "source", merges, dup)
    }
  }
}
