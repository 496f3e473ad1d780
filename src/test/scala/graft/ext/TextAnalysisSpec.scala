package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {

  private def one(text: String) = {
    import spark.implicits._
    Seq((1L, text)).toDF("doc_id", "text")
  }

  test("token count and occurrences") {
    val df = one("a b c a b a")
    val r = df.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.countOccurrences(concat(lit(" "), col("text"), lit(" ")), " a ").as("na"))
      .collect().head
    assert(r.getInt(0) === 6)
    assert(r.getDouble(1) === 3.0)
  }

  test("language id picks the language with most marker hits") {
    val en = one("the cat sat on the mat and the dog is here")
    val de = one("der hund und die katze ist das haus")
    assert(en.select(TextAnalysis.langId(col("text"))).head.getString(0) === "en")
    assert(de.select(TextAnalysis.langId(col("text"))).head.getString(0) === "de")
    assert(one("xyzzy plugh").select(TextAnalysis.langId(col("text"))).head.getString(0) === "und")
  }

  test("quality metrics ranges and fingerprint invariance") {
    val df = TextAnalysis.withQualityMetrics(one("Hello world this is a decent sentence"))
    val r = df.select("alpha_ratio", "quality_score").collect().head
    assert(r.getDouble(0) > 0.7 && r.getDouble(0) < 1.0)
    assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)

    val fp1 = one("Hello, World!").select(TextAnalysis.fingerprint(col("text"))).head.getString(0)
    val fp2 = one("hello world").select(TextAnalysis.fingerprint(col("text"))).head.getString(0)
    assert(fp1 === fp2) // punctuation/case-invariant
  }

  test("maxRunCount is the bag mode multiplicity; empty array yields 0") {
    import spark.implicits._
    val out = Seq(
      Seq("b", "a", "b", "c", "b"), // mode b ×3, unsorted input
      Seq("x"),
      Seq.empty[String])
      .toDF("arr").select(TextAnalysis.maxRunCount(col("arr")).as("m"))
      .collect().map(_.getLong(0)).toSeq
    assert(out === Seq(3L, 1L, 0L))
  }

  test("repetition filter: mode mass, dup-trigram fraction, token band") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a a a a a a a"), // pure repetition
      (2L, "the quick brown fox jumps over a lazy dog today"), // clean
      (3L, "x y"), // below the token band
      (4L, "spam spam spam eggs and ham with more stuff here ok")) // heavy mode
      .toDF("doc_id", "text")
    val out = TextAnalysis.withRepetitionMetrics(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("top_unigram_n") === 10L)
    assert(out(1L).getAs[Double]("top_unigram_frac") === 1.0)
    assert(out(1L).getAs[Long]("n_trigrams") === 8L)
    assert(out(1L).getAs[Long]("n_distinct_trigrams") === 1L)
    assert(out(1L).getAs[Double]("dup_trigram_ratio") === 7.0 / 8)
    assert(!out(1L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Long]("n_trigrams") === 0L)
    assert(out(3L).getAs[Double]("dup_trigram_ratio") === 0.0)
    assert(!out(3L).getAs[Boolean]("keep")) // 2 tokens < minTokens
    assert(out(4L).getAs[Long]("top_unigram_n") === 3L)
    assert(!out(4L).getAs[Boolean]("keep")) // 3/11 > 0.2 mode mass
  }

  test("tfIdfTopTerms: integer scores, df stopword cut, per-group ranks") {
    import spark.implicits._
    // 'the' is in all 4 docs → cut (df·2 > N); 'cat'/'dog' are group markers
    val docs = Seq(
      (1L, "en", "the cat cat sat"),
      (2L, "en", "the cat naps"),
      (3L, "de", "the dog dog barks"),
      (4L, "de", "the dog runs")
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.tfIdfTopTerms(docs, topK = 2).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("term")) ->
        (r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Long]("score"),
          r.getAs[Int]("rank"))).toMap
    assert(!out.keys.exists(_._2 == "the")) // df 4·2 > 4 docs
    assert(out(("en", "cat")) === ((3L, 2L, 1500000L, 1))) // 3·10⁶ div 2
    assert(out(("de", "dog")) === ((3L, 2L, 1500000L, 1)))
    // rank 2 entries exist and score below rank 1
    out.filter(_._2._4 == 2).foreach { case (_, (_, _, s, _)) => assert(s < 1500000L) }
  }

  test("bpeMergePairs: adjacent char pairs counted within tokens, ranked with total ties") {
    import spark.implicits._
    val docs = Seq((1L, "aab aab x"), (2L, "ab")).toDF("doc_id", "text")
    // tokens: aab, aab, x(dropped <2), ab → pairs: aa×2, ab×3
    val out = TextAnalysis.bpeMergePairs(docs, topK = 10).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("count"), r.getAs[Int]("rank")))
    assert(out.toSeq === Seq(("ab", 3L, 1), ("aa", 2L, 2)))
  }

  test("ngramNovelty: common-bigram docs score high, short docs survive with 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"),   // bigrams: "a b"(×2), "b a" — "a b" appears 3× in corpus
      (2L, "a b c"),     // "a b", "b c"
      (3L, "x")          // < 2 tokens → no bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, n = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_ngrams"), r.getAs[Long]("total_freq"),
          r.getAs[Long]("mean_freq_milli"))).toMap
    // corpus freqs: "a b"→3, "b a"→1, "b c"→1
    assert(out(1L) === ((3L, 7L, 2333L))) // (3+1+3)·1000 div 3
    assert(out(2L) === ((2L, 4L, 2000L))) // (3+1)·1000 div 2
    assert(out(3L) === ((0L, 0L, 0L)))    // kept by the left join
  }

  test("trigramDiversity: exact Simpson concentration on closed-form docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa"),  // trigrams: aaa, aaa → N=2, Σc²=4, diversity = 1 - 4/4 = 0
      (2L, "abcd"),  // abc, bcd → N=2, distinct=2, Σc²=2, diversity = 0.5
      (3L, "ABAB")   // lowercased: aba, bab → distinct → 0.5
    ).toDF("doc_id", "text")
    val out = TextAnalysis.trigramDiversity(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_trigrams"), r.getAs[Long]("n_distinct"),
          r.getAs[Long]("simpson_num"), r.getAs[Double]("diversity"))).toMap
    assert(out(1L) === ((2L, 1L, 4L, 0.0)))
    assert(out(2L) === ((2L, 2L, 2L, 0.5)))
    assert(out(3L) === ((2L, 2L, 2L, 0.5)))
  }

  test("trigramDiversity: repeated boilerplate scores lower than varied text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "click here click here click here click here"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.trigramDiversity(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("diversity")).toMap
    assert(out(1L) < out(2L))
  }

  test("langConfusion: margins expose code-switching, pure docs have zero second score") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat is on the mat and the dog is here"), // pure en
      (2L, "the house is big und das ist der garten"),   // en/de mix
      (3L, "xyz qqq zzz")                                 // no markers
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langConfusion(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3), r.getLong(4), r.getBoolean(6)))).toMap
    val (t1, s1, st1, ss1, m1) = out(1L)
    assert(t1 === "en" && ss1 === 0L && !m1)
    val (t2, s2c, st2, ss2, m2) = out(2L)
    assert(t2 === "de" && s2c === "en" && ss2 > 0L && m2)
    val (t3, _, st3, _, m3) = out(3L)
    assert(t3 === "und" && st3 === 0L && !m3)
  }

  test("boilerplatePrefixes surfaces repeated headers per source, singletons drop") {
    import spark.implicits._
    val hdr = "Skip to main content | Cookie po" // exactly 32 chars
    val docs = Seq(
      (1L, hdr + " page one body", "web"),
      (2L, hdr + " page two body", "web"),
      (3L, hdr + " page three", "web"),
      (4L, "unique document text here", "web"),
      (5L, "another one-off doc", "web"),
      (6L, "curated clean text", "books"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.boilerplatePrefixes(docs).collect()
    assert(out.length === 1) // only the repeated header survives minDocs
    val r = out.head
    assert(r.getAs[String]("source") === "web")
    assert(r.getAs[String]("prefix") === hdr)
    assert(r.getAs[Long]("n_docs") === 3L)
    assert(r.getAs[Int]("rk") === 1)
  }

  test("stripBoilerplate removes the detected prefix only where it matches") {
    import spark.implicits._
    val hdr = "Skip to main content | Cookie po" // 32 chars
    val docs = Seq(
      (1L, hdr + " body one", "web"),
      (2L, hdr + " body two", "web"),
      (3L, "no header here", "web"),
      (4L, "books are untouched", "books"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.stripBoilerplate(docs).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Boolean]("stripped"), r.getAs[String]("text_clean"))))
      .toMap
    assert(out(1L) === ((true, " body one")))
    assert(out(2L) === ((true, " body two")))
    assert(out(3L) === ((false, "no header here")))
    assert(out(4L) === ((false, "books are untouched")))
    val plan = TextAnalysis.stripBoilerplate(docs).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("repeatedSpans finds interior spans at different offsets; counts docs once") {
    import spark.implicits._
    val tpl = "please accept cookies before you continue reading this"
    val docs = Seq(
      (1L, s"intro words here $tpl and then more"),
      (2L, s"$tpl trailing tail"),
      (3L, s"one two $tpl $tpl end"), // span twice in one doc: counted once
      (4L, "completely unrelated text with no shared windows at all ok"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repeatedSpans(docs, spanWords = 8, minDocs = 3, topK = 5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.contains(tpl), out.keys.mkString("|"))
    assert(out(tpl) === ((3L, 1L))) // docs 1,2,3 — doc 3 once; first_doc = 1
    assert(!out.keys.exists(_.contains("unrelated")))
  }

  test("repeatedSpans: a doc shorter than the span window contributes its whole text") {
    import spark.implicits._
    val docs = Seq((1L, "tiny doc"), (2L, "tiny doc"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repeatedSpans(docs, spanWords = 8, minDocs = 2, topK = 5)
      .collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "tiny doc")
    assert(out.head.getLong(1) === 2L)
  }

  test("stripMarkup: tags removed, entities decoded one level, whitespace collapsed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "<p>Hello <b>world</b></p>\n\n  &amp; friends &lt;3"),
      (2L, "no markup here"),
      (3L, "&amp;lt; decodes one level only")).toDF("doc_id", "text")
    val out = TextAnalysis.stripMarkup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text_clean"), r.getAs[Long]("n_tags"),
          r.getAs[Long]("n_entities")))).toMap
    assert(out(1L) === (("Hello world & friends <3", 4L, 2L)))
    assert(out(2L) === (("no markup here", 0L, 0L)))
    // &amp;lt; → the four characters "&lt;", NOT "<" (single-level decode)
    assert(out(3L) === (("&lt; decodes one level only", 0L, 1L)))
  }

  test("oovRate: tokens outside the top-V vocabulary are counted exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // vocab size 2 -> top-2 grams by (count desc, gram asc): "the" (4), "cat" (3)
    val docs = Seq(
      (1L, "the cat the cat"),
      (2L, "the cat sat"),
      (3L, "dogs bark the")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.oovRate(docs, vocabSize = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"), r.getAs[Long]("oov_fp")))).toMap
    assert(out(1L) === ((4L, 0L, 0L)))
    assert(out(2L) === ((3L, 1L, 1048576L / 3L)))
    assert(out(3L) === ((3L, 2L, 2L * 1048576L / 3L)))
  }

  test("distinctiveTerms: over-represented tokens rank first, smoothing bounds one-offs") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "pizza pizza pizza pasta shared shared"),
      ("s1", "pizza pasta shared"),
      ("s2", "sushi sushi sushi ramen shared shared"),
      ("s2", "sushi ramen shared")
    ).toDF("source", "text")
    val out = TextAnalysis.distinctiveTerms(docs, "source", k = 3, "text").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("rank")) -> r.getAs[String]("term"))
      .toMap
    // each source's signature food words beat the shared vocabulary
    assert(out(("s1", 1L)) === "pizza")
    assert(out(("s2", 1L)) === "sushi")
    assert(out(("s1", 2L)) === "pasta")
    assert(out(("s2", 2L)) === "ramen")
    // the shared token is never the most distinctive
    assert(!Seq(out(("s1", 1L)), out(("s2", 1L))).contains("shared"))
  }

  test("readability: vowel-run syllables, sentence floor, exact fk_milli") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat. it sat well!"),     // 6 words, 2 sentences, 6 syllable runs
      (2L, "no punctuation here at all")     // sentences floors at 1
    ).toDF("doc_id", "text")
    val out = TextAnalysis.readability(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_sentences"),
          r.getAs[Long]("n_syllables"), r.getAs[Long]("fk_milli")))).toMap
    // doc1: words 6 ("the","cat","sat.","it","sat","well!"), sents 2,
    // syllables: e,a,a,i,a,e -> 6 runs
    val fk1 = (6L * 390L) / 2L + (6L * 11800L) / 6L - 15590L
    assert(out(1L) === ((6L, 2L, 6L, fk1)))
    // doc2: 5 words, 1 sentence (floor), syllables o,u,ua,io,e,e,a,a -> count runs:
    // "no"(o) "punctuation"(u,ua,io) "here"(e,e) "at"(a) "all"(a) = 8
    val fk2 = (5L * 390L) / 1L + (8L * 11800L) / 5L - 15590L
    assert(out(2L) === ((5L, 1L, 8L, fk2)))
  }

  test("codeScore: symbol and keyword densities, prose vs code separation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "def f(x): return x + 1;"),               // code: symbols + keywords
      (2L, "the quick brown fox jumps over the dog"), // prose: no symbols
      (3L, "if while for class import void")          // keywords only
    ).toDF("doc_id", "text")
    val out = TextAnalysis.codeScore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc1: symbols ( ) : no— set is {}()[];=<> → '(', ')', ';' = 3... plus none else
    assert(out(1L).getAs[Long]("n_sym") === 3L)
    // keywords: def, return = 2
    assert(out(1L).getAs[Long]("n_kw") === 2L)
    assert(out(1L).getAs[Boolean]("is_code"))
    assert(out(2L).getAs[Long]("n_sym") === 0L)
    assert(out(2L).getAs[Long]("n_kw") === 0L)
    assert(out(2L).getAs[Long]("code_fp") === 0L)
    assert(!out(2L).getAs[Boolean]("is_code"))
    // doc3: 6 keywords over 6 tokens → kw term = 2^20 exactly
    assert(out(3L).getAs[Long]("n_kw") === 6L)
    assert(out(3L).getAs[Long]("code_fp") === 1048576L)
    assert(out(3L).getAs[Boolean]("is_code"))
  }

  test("charsetProfile: exact class counts and shares per group") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abc 12", "s1"),    // 3 letters, 2 digits, 1 space → 6 chars
      (2L, "x.y!", "s1"),      // 2 letters, 0 digits, 0 spaces, 2 other
      (3L, "1234", "s2")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.charsetProfile(docs).collect()
      .map(r => r.getAs[String]("grp") -> r).toMap
    val s1 = out("s1")
    assert(s1.getAs[Long]("n_docs") === 2L)
    assert(s1.getAs[Long]("n_chars") === 10L)
    assert(s1.getAs[Long]("n_letters") === 5L)
    assert(s1.getAs[Long]("n_digits") === 2L)
    assert(s1.getAs[Long]("n_spaces") === 1L)
    assert(s1.getAs[Long]("n_other") === 2L)
    assert(s1.getAs[Long]("letter_fp") === 5L * 1048576L / 10L)
    assert(s1.getAs[Long]("other_fp") === 2L * 1048576L / 10L)
    val s2 = out("s2")
    assert(s2.getAs[Long]("n_digits") === 4L && s2.getAs[Long]("n_letters") === 0L)
  }

  test("vocabGrowth: nested subsamples, monotone vocab, full fraction sees everything") {
    import spark.implicits._
    val docs = (1L to 50L).map(i =>
      (i, s"common words here plus unique$i token$i extra$i")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(docs).collect()
      .map(r => (r.getAs[String]("space"), r.getAs[Long]("pct")) ->
        ((r.getAs[Long]("n_occurrences"), r.getAs[Long]("vocab")))).toMap
    // full token fraction: 50 docs × 7 tokens; vocab = 4 shared + 3·50 unique
    assert(out(("token", 100L))._1 === 350L)
    assert(out(("token", 100L))._2 === 154L)
    // vocab and occurrences grow monotonically along nested fractions
    Seq("token", "shingle").foreach { sp =>
      val curve = Seq(25L, 50L, 75L, 100L).map(p => out((sp, p)))
      assert(curve.map(_._1) === curve.map(_._1).sorted, s"$sp occurrences monotone")
      assert(curve.map(_._2) === curve.map(_._2).sorted, s"$sp vocab monotone")
    }
    // shingles: 5 per doc (7 tokens → 5 windows); the first two windows are
    // shared across all docs, the last three carry a unique token
    assert(out(("shingle", 100L))._1 === 250L)
    assert(out(("shingle", 100L))._2 === 2L + 3L * 50L)
  }

  test("langMixing: mixed doc flagged with exact majority share, pure doc is not") {
    import spark.implicits._
    // en markers: the/and/is...; de markers: der/und/die... (langMarkers)
    val docs = Seq(
      (1L, "the cat is on the mat. der hund und die katze. the dog is here."),
      (2L, "the cat is on the mat. the dog is in the house."),
      (3L, "zzz qqq. xxx yyy.") // no markers anywhere → every sentence 'und'
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langMixing(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_sentences") === 3L)
    assert(out(1L).getAs[Long]("n_langs") === 2L)
    assert(out(1L).getAs[String]("majority_lang") === "en")
    // 2 of 3 sentences en → floor(2·2^20/3)
    assert(out(1L).getAs[Long]("majority_fp") === 2L * 1048576L / 3L)
    assert(out(1L).getAs[Boolean]("is_mixed"))
    assert(out(2L).getAs[Long]("n_langs") === 1L)
    assert(!out(2L).getAs[Boolean]("is_mixed"))
    assert(out(3L).getAs[String]("majority_lang") === "und")
    assert(!out(3L).getAs[Boolean]("is_mixed"))
  }

  test("collocationLift: hand-computed integer lift, ranked, minCount-guarded") {
    import spark.implicits._
    // unigrams a=3 b=3 c=4 (N=10); bigrams ab=3 ba=1 bc=1 cc=2 (B=7)
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "c c c"))
      .toDF("doc_id", "text")
    def lift(cab: Long, ca: Long, cb: Long) =
      cab * 100L * 1048576L / (7L * ca * cb)
    val all = TextAnalysis.collocationLift(docs, minCount = 1L, topK = 10)
      .collect()
      .map(r => (r.getAs[String]("term_a"), r.getAs[String]("term_b"),
        r.getAs[Long]("c_ab"), r.getAs[Long]("lift_fp")))
    assert(all.toSeq === Seq(
      ("a", "b", 3L, lift(3, 3, 3)),
      ("c", "c", 2L, lift(2, 4, 4)),
      ("b", "a", 1L, lift(1, 3, 3)),
      ("b", "c", 1L, lift(1, 3, 4))))
    // minCount suppresses the low-support tail
    val guarded = TextAnalysis.collocationLift(docs, minCount = 2L, topK = 10)
      .collect().map(r => (r.getAs[String]("term_a"), r.getAs[String]("term_b")))
    assert(guarded.toSeq === Seq(("a", "b"), ("c", "c")))
  }

  test("native langScores == composed langScore, langId ties and nulls unchanged") {
    import spark.implicits._
    val texts = Seq(
      "the cat is on the mat and the dog",
      "der hund ist das der die",
      "le chat et la les est",
      "el perro y los es una",
      "的 是 了 的",
      "the der", // exact en/de tie → first-declared language wins
      "no marker words here",
      "",
      null.asInstanceOf[String])
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val native = graft.functions.TextNativeFunctions.langScores(col("text"))
    val checks = TextAnalysis.langMarkers.zipWithIndex.map { case ((l, ms), i) =>
      (element_at(native, i + 1) <=> TextAnalysis.langScore(col("text"), ms)).as(s"eq_$l")
    }
    val rows = df.select(checks :+
        (TextAnalysis.langId(col("text")).as("lang")): _*).collect()
    rows.zip(texts).foreach { case (r, t) =>
      TextAnalysis.langMarkers.indices.foreach { i =>
        assert(r.getBoolean(i), s"score mismatch for lang ${TextAnalysis.langMarkers(i)._1} on '$t'")
      }
    }
    val langs = rows.map(_.getAs[String]("lang")).toSeq
    assert(langs === Seq("en", "de", "fr", "es", "zh", "en", "und", "und", "und"))
  }

  test("tokenizerEconomics: exact byte/char/token sums and fixed-point ratios") {
    import spark.implicits._
    val docs = Seq(
      ("srcA", "hello world"), // 11 B, 11 ch, 2 ws, 2 bpe
      ("srcA", "héllo"), //       6 B (é = 2 bytes), 5 ch, 1 ws, 3 bpe (h|é|llo)
      ("srcB", "123")) //         3 B, 3 ch, 1 ws, 1 bpe
      .toDF("source", "text")
    val out = TextAnalysis.tokenizerEconomics(docs)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val a = out("srcA")
    assert(a.getAs[Long]("n_docs") === 2L)
    assert(a.getAs[Long]("total_bytes") === 17L)
    assert(a.getAs[Long]("total_chars") === 16L)
    assert(a.getAs[Long]("total_ws_tokens") === 3L)
    assert(a.getAs[Long]("total_bpe_tokens") === 5L)
    assert(a.getAs[Long]("bytes_per_token_fp") === 17L * 1048576 / 5)
    assert(a.getAs[Long]("chars_per_token_fp") === 16L * 1048576 / 5)
    assert(a.getAs[Long]("fertility_fp") === 5L * 1048576 / 3)
    val b = out("srcB")
    assert(b.getAs[Long]("bytes_per_token_fp") === 3L * 1048576)
    assert(b.getAs[Long]("fertility_fp") === 1048576L)
  }
}
