package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star extension, SURVEY §0/§7.1 ext/): language ID, quality
  * scoring, token counting, document fingerprinting.
  *
  * Everything is built from codegen'd built-in expressions (split/regexp/
  * length arithmetic) — no UDFs — so the whole stage stays inside
  * WholeStageCodegen and runs at scan speed on 100 TB of documents. All
  * counting is integer-exact, so results are engine-portable (DuckDB oracle
  * matches bit-for-bit).
  */
object TextAnalysis {

  /** Whitespace tokens (documents are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Occurrences of `needle` in `hay` via length arithmetic — integer-exact
    * and identical in any engine (plain string replace, no regex dialect
    * drift).
    */
  def countOccurrences(hay: Column, needle: String): Column =
    (length(hay) - length(call_function("replace", hay, lit(needle), lit("")))) /
      needle.length

  /** Marker vocabulary per language for the n-gram/stopword language-ID
    * heuristic. Counting is over space-padded text so only whole tokens hit.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "los", "y", "es", "una"),
    "zh" -> Seq("的", "是", "了"))

  /** Per-language marker-hit score. */
  def langScore(text: Column, markers: Seq[String]): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    markers.map(m => countOccurrences(padded, s" $m ")).reduce(_ + _)
  }

  /** Language-ID: argmax of marker scores, "und" (undetermined) when all
    * zero. Deterministic tie-break by the declaration order of langMarkers.
    */
  def langId(text: Column): Column = {
    val arr = graft.functions.TextNativeFunctions.langScores(text)
    val scores = langMarkers.zipWithIndex.map { case ((l, _), i) =>
      (l, element_at(arr, i + 1))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && best > 0, l).otherwise(acc)
    }
  }

  /** Language confusion: top-two marker-score languages per document with
    * the margin between them — the code-switching / wrong-langid flag a
    * multilingual curation pass needs ([[langId]] reports only the argmax;
    * a document with en=5, de=4 is a different beast than en=5, de=0).
    * Ties break by `langMarkers` declaration order, matching [[langId]].
    * Map-only (one projection over the corpus), exact integer scores.
    */
  def langConfusion(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val arr = graft.functions.TextNativeFunctions.langScores(col(textCol))
    val entries = langMarkers.zipWithIndex.map { case ((l, _), i) =>
      struct((lit(0) - element_at(arr, i + 1)).as("ns"),
        lit(i).as("i"), lit(l).as("l"))
    }
    val sorted = sort_array(array(entries: _*))
    val first = element_at(sorted, 1)
    val second = element_at(sorted, 2)
    docs.select(
      col(idCol),
      when(first.getField("ns") < 0, first.getField("l")).otherwise("und").as("lang_top"),
      when(second.getField("ns") < 0, second.getField("l")).otherwise("und").as("lang_second"),
      (-first.getField("ns")).cast("long").as("score_top"),
      (-second.getField("ns")).cast("long").as("score_second"),
      (second.getField("ns") - first.getField("ns")).cast("long").as("margin"),
      (second.getField("ns") < 0).as("is_mixed"))
  }

  /** Quality metrics: char/token counts, average token length, alphabetic
    * ratio, stopword ratio — the length/punct/stopword heuristics used to
    * score web-scraped training text.
    */
  /** Scalar quality score in [0,1]: 0.5·alpha-ratio + 0.3·capped length +
    * 0.2·capped stopword density — the single-column form shared by
    * [[withQualityMetrics]] and the `graft_quality` SQL function.
    */
  def qualityScore(t: Column): Column = {
    val nTokens = tokenCount(t)
    val nChars = length(t)
    val alpha = length(regexp_replace(lower(t), "[^a-z]", ""))
    val stop = langScore(t, langMarkers.flatMap(_._2))
    least(
      greatest(
        (alpha.cast("double") / nChars) * 0.5 +
          least(nTokens.cast("double") / 100.0, lit(1.0)) * 0.3 +
          least(stop.cast("double") / nTokens * 10.0, lit(1.0)) * 0.2,
        lit(0.0)),
      lit(1.0))
  }

  def withQualityMetrics(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nTokens = tokenCount(t)
    val nChars = length(t)
    val alpha = length(regexp_replace(lower(t), "[^a-z]", ""))
    val stop = langScore(t, langMarkers.flatMap(_._2))
    // regexp + marker counting are the most expensive per-row text exprs in
    // the library; on a single-split scan they run serially (Spread is a
    // no-op once the scan has real splits — guide §2.5). Keyed by a CHEAP
    // prefix hash, not the text value: hashing megabyte documents adds a
    // full extra pass over every byte, and duplicate texts — common in the
    // dedup corpora this targets — would all land on one partition.
    Spread.byKey(docs, xxhash64(substring(t, 1, 64), length(t)))
      .withColumn("n_tokens", nTokens)
      .withColumn("n_chars_measured", nChars)
      // chars minus separating spaces, over tokens: integer-exact mean len
      .withColumn(
        "avg_token_len",
        (nChars - (nTokens - 1)).cast("double") / nTokens)
      .withColumn("alpha_ratio", alpha.cast("double") / nChars)
      .withColumn("stopword_ratio", stop.cast("double") / nTokens)
      .withColumn("quality_score", qualityScore(t))
  }

  /** Vocabulary building: global n-gram frequency counts, the tokenizer-
    * training / corpus-statistics primitive. One explode + one hash
    * aggregation per n — the shuffle carries (gram, partial count) pairs,
    * map-side combined, so cost is O(distinct grams) not O(corpus).
    */
  def vocabulary(
      docs: DataFrame, textCol: String = "text",
      maxN: Int = 2, topK: Int = 20): DataFrame = {
    val grams = (1 to maxN).map { n =>
      // native one-pass n-gram builder (graft.functions.WordNGrams) — the
      // HOF transform/slice/array_join build was interpreted per window;
      // <n-token docs yield an empty array, which explode drops
      val gram = explode(graft.functions.TextNativeFunctions.ngrams(lower(col(textCol)), n))
      docs.select(lit(n).as("n"), gram.as("gram"))
    }.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n").orderBy(col("count").desc, col("gram").asc)
    grams.groupBy("n", "gram").agg(count(lit(1)).as("count"))
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** Per-document out-of-vocabulary rate against the corpus' own top-
    * `vocabSize` unigram vocabulary ([[vocabulary]]'s deterministic
    * count-desc/gram-asc ranking): token count, OOV token count, and the
    * OOV fraction as a 2²⁰ fixed-point floor quotient. High-OOV documents
    * are the tokenizer-hostile tail (wrong language, binary junk,
    * boilerplate markup) worth routing to review before training.
    *
    * Scale: the vocabulary is |vocab| rows and broadcast; tokens flow
    * through a broadcast hash join and a map-side-combined count per doc —
    * the shuffle carries one row per document, never the token stream.
    */
  def oovRate(
      docs: DataFrame, vocabSize: Int = 500,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val vocab = vocabulary(docs, textCol, maxN = 1, topK = vocabSize).select(col("gram"))
    val toks = docs.select(col(idCol),
      explode(graft.functions.TextNativeFunctions.ngrams(lower(col(textCol)), 1)).as("__tok"))
    toks.join(broadcast(vocab), col("__tok") === col("gram"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("gram").isNull, 1L).otherwise(0L)).cast("long").as("n_oov"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        ExactMath.floorDiv(col("n_oov") * lit(1048576L), col("n_tokens"))
          .as("oov_fp"))
  }

  /** Distinctive vocabulary per group: top-k terms by the add-one-smoothed
    * rate ratio
    *
    *   score = ((c_g+1)/(T_g+V)) / ((c_rest+1)/(T_rest+V))
    *
    * as a 2²⁰ fixed-point integer (cross-multiplied — no logs, no
    * division until the final floor quotient). The "what makes this feed
    * different" report: high-score terms are over-represented in the
    * group relative to everything else, with smoothing keeping one-off
    * typos from scoring infinitely. Ties break by term asc.
    *
    * Scale: one token count per (group, term) — map-side combined — a
    * |vocab|-row global count joined back, and a per-group top-k window
    * over that group's vocabulary, never the corpus.
    */
  def distinctiveTerms(
      docs: DataFrame, groupCol: String = "source", k: Int = 5,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = col(groupCol)
    val toks = docs.select(g,
      explode(graft.functions.TextNativeFunctions.ngrams(lower(col(textCol)), 1)).as("term"))
    val cg = toks.groupBy(g, col("term")).agg(count(lit(1)).as("c_g"))
    val ct = cg.groupBy("term").agg(sum(col("c_g")).as("c_tot"))
    val tg = cg.groupBy(g).agg(sum(col("c_g")).as("t_g"))
    val tot = ct.agg(sum(col("c_tot")).cast("long").as("t_all"),
      count(lit(1)).as("v"))
    val scored = cg.join(ct, Seq("term")).join(tg, Seq(groupCol))
      .crossJoin(broadcast(tot))
      .withColumn("score_fp", ExactMath.floorDiv(
        (col("c_g") + 1L).cast("decimal(19,0)") *
          (col("t_all") - col("t_g") + col("v")).cast("decimal(19,0)") * 1048576L,
        (col("c_tot") - col("c_g") + 1L).cast("decimal(19,0)") *
          (col("t_g") + col("v")).cast("decimal(19,0)")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(g).orderBy(col("score_fp").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select(g, col("term"), col("c_g").cast("long").as("c_g"),
        col("score_fp"), col("rank").cast("long").as("rank"))
  }

  /** Bigram language-model plausibility — the log-free stand-in for
    * perplexity filtering (the CCNet/KenLM trick of scoring documents by
    * how well a corpus LM predicts them, used to rank crawl text by
    * fluency): the corpus' own bigram model assigns every transition
    * w₁→w₂ a probability c(w₁w₂)/c(w₁), and each document scores the MEAN
    * transition probability over its bigram occurrences, as exact 2²⁰
    * fixed-point integers (⌊2²⁰·c_b/c_u⌋ per bigram, floor-averaged).
    * Low scores mark disfluent/shuffled/foreign text. No logs, no floats.
    *
    * Scale: two corpus-vocabulary count aggregations (map-side combined);
    * the per-bigram probability joins unigram counts at vocabulary scale;
    * documents then join the |bigram-vocab| table and aggregate — the
    * shuffle carries (doc, distinct-bigram) count rows, never raw tokens.
    * Documents with fewer than 2 tokens have no transitions and are
    * absent by definition.
    */
  def lmPlausibility(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def grams(n: Int) =
      explode(graft.functions.TextNativeFunctions.ngrams(lower(col(textCol)), n))
    val uni = docs.select(grams(1).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cu"))
    val biProb = docs.select(grams(2).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cb"))
      .join(uni, element_at(split(col("gram"), " "), 1) === col("tok"))
      .select(col("gram"),
        ExactMath.floorDiv(col("cb") * lit(1048576L), col("cu")).as("p_fp"))
    docs.select(col(idCol), grams(2).as("gram"))
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("k"))
      .join(biProb, Seq("gram"))
      .groupBy(col(idCol))
      .agg(
        sum(col("k")).cast("long").as("n_bigrams"),
        sum(col("k") * col("p_fp")).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        ExactMath.floorDiv(col("__s"), col("n_bigrams")).as("lm_fp"))
  }

  /** Readability profile per document, all-integer: word count, sentence
    * count (runs of `.!?`, floored at 1), syllable estimate (runs of
    * vowels incl. y — the standard cheap proxy), and a Flesch–Kincaid-
    * style grade in milli-units:
    *
    *   fk_milli = ⌊390·words/sentences⌋ + ⌊11800·syllables/words⌋ − 15590
    *
    * (each term floored independently — defined that way on both engine
    * sides, so the score is exact and portable; regexes stay in the
    * Java∩RE2 subset). Screens for run-on machine-generated text (huge
    * words/sentence) and letter-soup junk (syllable rate far from
    * English's ~1.4/word).
    *
    * Scale: map-only — three regex counters per row, no shuffle at all.
    */
  def readability(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val words = size(split(col(textCol), " ")).cast("long")
    val sentences = greatest(regexp_count(col(textCol), lit("[.!?]+")).cast("long"), lit(1L))
    val syllables = regexp_count(lower(col(textCol)), lit("[aeiouy]+")).cast("long")
    docs.select(col(idCol),
        words.as("n_words"), sentences.as("n_sentences"), syllables.as("n_syllables"))
      .withColumn("fk_milli",
        (ExactMath.floorDiv(col("n_words") * 390L, col("n_sentences")) +
          ExactMath.floorDiv(col("n_syllables") * 11800L, greatest(col("n_words"), lit(1L))) -
          15590L).cast("long"))
  }

  /** Charset profile (E176): per-group character-class composition —
    * letters, digits, whitespace, punctuation/other — as exact counts and
    * 2²⁰ shares. A feed whose punctuation share doubles is shipping
    * markup/code; a digit-heavy feed is tables/logs; the zero-cost triage
    * BEFORE the per-doc gates run. Patterns stay in the Java∩RE2 subset.
    *
    * Scale: map-only per-row class counts, one hash aggregation to
    * |groups| rows.
    */
  def charsetProfile(
      docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val letters = length(regexp_replace(t, "[^a-zA-Z]", "")).cast("long")
    val digits = length(regexp_replace(t, "[^0-9]", "")).cast("long")
    val spaces = length(regexp_replace(t, "[^ ]", "")).cast("long")
    val total = length(t).cast("long")
    val fp = lit(1048576L)
    docs
      .select(col(groupCol).as("grp"), letters.as("l"), digits.as("d"),
        spaces.as("s"), total.as("t"))
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("t")).cast("long").as("n_chars"),
        sum(col("l")).cast("long").as("n_letters"),
        sum(col("d")).cast("long").as("n_digits"),
        sum(col("s")).cast("long").as("n_spaces"))
      .withColumn("n_other",
        col("n_chars") - col("n_letters") - col("n_digits") - col("n_spaces"))
      .withColumn("letter_fp",
        ExactMath.floorDiv(col("n_letters") * fp, greatest(col("n_chars"), lit(1L))))
      .withColumn("other_fp",
        ExactMath.floorDiv(col("n_other") * fp, greatest(col("n_chars"), lit(1L))))
  }

  /** Vocabulary growth curve (E164): distinct-element counts across nested
    * hash subsamples of the corpus, in both the token space (tokenizer
    * vocab sizing) and the 3-shingle space (dedup/LSH index sizing). The
    * empirical Heaps'-law exponent on YOUR corpus: if shingle vocabulary
    * still grows linearly at 100%, the dedup index scales with the data;
    * if token vocabulary has flattened, the tokenizer's OOV story is
    * closed. Subsamples share [[graft.ext.Dedup.dedupYieldCurve]]'s gates
    * (stableHash mod 100 < pct), so the two curves line up row-for-row.
    *
    * Token occurrences are raw; shingle occurrences are per-doc-distinct
    * (the near-dup element space). Scale: one explode per space with a
    * ≤|fractions| fan-out, aggregated by (space, pct) — map-side combined
    * distinct counting.
    */
  def vocabGrowth(
      docs: DataFrame,
      fractions: Seq[Int] = Seq(25, 50, 75, 100),
      seed: Int = 7,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(p => p > 0 && p <= 100),
      "fractions must be percentages in (0, 100]")
    val h = pmod(graft.ext.Dedup.stableHash(col(idCol), seed), lit(100L))
    val toks = docs.select(h.as("h"),
      explode(tokens(lower(col(textCol)))).as("el"))
      .withColumn("space", lit("token"))
    val shing = docs.select(h.as("h"),
      explode(Dedup.shingles(col(textCol), 3)).as("el"))
      .withColumn("space", lit("shingle"))
    toks.unionByName(shing)
      .select(col("space"), col("el"), col("h"),
        explode(typedlit(fractions.map(_.toLong))).as("pct"))
      .filter(col("h") < col("pct"))
      .groupBy("space", "pct")
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("el")).as("vocab"))
  }

  /** Per-document language mixing (E157): sentence-level language votes.
    * Sentences split on the portable `[.!?]+ *` pattern, each classified
    * with [[langId]]; the report is the per-doc vote distribution —
    * sentence count, distinct predicted languages, the majority language
    * (count desc, language asc tiebreak) and its exact 2²⁰ share. A prose
    * doc scoring `is_mixed` is code-switched, mis-scraped, or a
    * concatenation bug — all three are things a monolingual training mix
    * wants surfaced, and doc-level argmax ([[langId]] on the whole text)
    * structurally cannot see them.
    *
    * Scale: sentence explode + langid are map-side; the vote count and the
    * per-doc window shuffle on doc id (≤ |langs|+1 rows per doc).
    */
  def langMixing(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sent = docs
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "[.!?]+ *")).as(Seq("idx", "s")))
      .filter(length(trim(col("s"))) > 0)
      .select(col("id"), langId(col("s")).as("slang"))
    val counts = sent.groupBy("id", "slang").agg(count(lit(1)).as("c"))
    val byDoc = Window.partitionBy("id")
    counts
      .withColumn("tot", sum(col("c")).over(byDoc))
      .withColumn("rk",
        row_number().over(byDoc.orderBy(col("c").desc, col("slang").asc)))
      .groupBy(col("id").as(idCol))
      .agg(
        max(col("tot")).cast("long").as("n_sentences"),
        count(lit(1)).cast("long").as("n_langs"),
        min(when(col("rk") === 1, col("slang"))).as("majority_lang"),
        ExactMath.floorDiv(
          min(when(col("rk") === 1, col("c"))) * lit(1048576L),
          max(col("tot"))).as("majority_fp"))
      .withColumn("is_mixed", col("n_langs") > 1L)
  }

  /** Code-likeness score (E142): symbol density per char + keyword density
    * per token, as exact 2²⁰ fixed-point integers — the "is this prose or
    * source code?" gate a text-corpus curation pass runs before quality
    * scoring (code in a prose corpus skews every length/stopword heuristic,
    * and prose in a code corpus dilutes it).
    *
    * Both regexes stay in the Java∩RE2 subset (character class; `\b`-anchored
    * alternation) so the DuckDB oracle counts identically.
    *
    * Scale: map-only — two regex counters per row, no shuffle.
    */
  def codeScore(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      thresholdFp: Long = 131072L): DataFrame = {
    val t = col(textCol)
    val nSym = regexp_count(t, lit("[{}()\\[\\];=<>]")).cast("long")
    val nKw = regexp_count(
      lower(t),
      lit("\\b(def|class|return|import|if|else|for|while|function|var|const|void|int)\\b"))
      .cast("long")
    val nChars = greatest(length(t).cast("long"), lit(1L))
    val nTok = greatest(tokenCount(t).cast("long"), lit(1L))
    docs.select(
        col(idCol), nSym.as("n_sym"), nKw.as("n_kw"),
        (ExactMath.floorDiv(nSym * lit(1048576L), nChars) +
          ExactMath.floorDiv(nKw * lit(1048576L), nTok)).as("code_fp"))
      .withColumn("is_code", col("code_fp") >= thresholdFp)
  }

  /** Content fingerprint: digest of the casefolded, alphanumeric-only text —
    * robust to whitespace/punctuation edits (the "rolling hash" document
    * fingerprint, portable across engines via md5).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]", ""))

  /** BPE-ish pre-tokenization: letter runs, digit runs, and single
    * punctuation marks over casefolded text (the GPT-2 pre-tokenizer shape,
    * minus byte-level merges). Pure regex → stays in WholeStageCodegen; the
    * pattern uses only constructs with identical semantics in Java regex and
    * RE2, so the DuckDB oracle tokenizes identically.
    */
  val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(bpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Tokenizer economics per source (E211): what a source COSTS to train
    * on — UTF-8 bytes, characters, whitespace words, and BPE-ish tokens,
    * with fixed-point compression ratios (bytes/token, chars/token) and
    * token fertility (BPE tokens per whitespace word). The per-source
    * companion of q197's per-language fertility: ratios near 1 byte/token
    * mean the tokenizer is degenerating to bytes on that source (binary,
    * wrong-script, or junk text); high fertility flags sources that burn
    * context-window budget.
    *
    * Scale: map-only projection (native regexp token count, length
    * arithmetic) + one hash aggregation keyed by source. Ratios divide
    * DECIMAL(38) sums (exact at any corpus size) into 2²⁰ fixed point via
    * the pmod-first floorDiv.
    */
  def tokenizerEconomics(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val agg = docs
      .select(col(sourceCol).as("source"),
        octet_length(t).cast("long").as("b"),
        length(t).cast("long").as("c"),
        tokenCount(t).cast("long").as("ws"),
        bpeTokenCount(t).cast("long").as("bpe"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("b")).as("total_bytes"),
        sum(col("c")).as("total_chars"), sum(col("ws")).as("total_ws_tokens"),
        sum(col("bpe")).as("total_bpe_tokens"))
    def ratioFp(num: Column, den: Column): Column =
      when(den === 0, lit(0L)).otherwise(
        ExactMath.floorDiv(num.cast("decimal(38,0)") * lit(1048576L), den))
    agg.select(col("source"), col("n_docs"), col("total_bytes"),
      col("total_chars"), col("total_ws_tokens"), col("total_bpe_tokens"),
      ratioFp(col("total_bytes"), col("total_bpe_tokens")).as("bytes_per_token_fp"),
      ratioFp(col("total_chars"), col("total_bpe_tokens")).as("chars_per_token_fp"),
      ratioFp(col("total_bpe_tokens"), col("total_ws_tokens")).as("fertility_fp"))
  }

  /** Order-sensitive polynomial rolling hash over whitespace tokens:
    * h_i = (h_{i-1}·B + stableHash(tok_i) mod P) mod P. Unlike the set-based
    * minhash/fingerprint, token *reordering* changes this value — the
    * document-fingerprinting primitive for exact-sequence dedup. Bounds:
    * acc < P ≈ 1e9 and B ≈ 1e6 keep acc·B + h < 2^63 (no overflow).
    */
  def rollingHash(
      text: Column, b: Long = 1000003L, p: Long = 1000000007L): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, t) => pmod(acc * b + pmod(Dedup.stableHash(t, 0), lit(p)), lit(p)))

  /** Word n-grams of casefolded text as an array column (the doc's whole
    * n-gram list, duplicates preserved; empty when fewer than n tokens).
    */
  def wordGrams(text: Column, n: Int): Column = {
    val toks = tokens(lower(text))
    if (n == 1) toks
    else when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** Count of the most frequent element in a string array, via one sorted
    * linear run-length scan — an O(n log n) per-ROW expression, so the whole
    * repetition pass is map-side with ZERO shuffle (the mode of a bag
    * without a groupBy). Empty arrays yield 0.
    */
  def maxRunCount(arr: Column): Column =
    aggregate(
      sort_array(arr),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, g) => {
        val run = when(g === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1L))
        struct(
          g.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Repetition metrics + Gopher-style keep/drop filter — the quality gate
    * every web-scale corpus pipeline runs (the "repetition removal" family
    * of rules from published corpus-curation recipes, re-expressed as exact
    * integer counting): most-frequent-unigram mass, duplicate bigram /
    * trigram fraction, and a token-count band. All per-row array
    * expressions — the 100 TB pass is scan-bound with no shuffle at all.
    *
    * keep = n_tokens ∈ [minTokens, maxTokens]
    *        AND top_unigram_frac ≤ maxTopUnigramFrac
    *        AND dup_trigram_ratio ≤ maxDupTrigramRatio.
    * Ratios are integer-count divisions, so every value (and the boolean)
    * is engine-exact.
    */
  def withRepetitionMetrics(
      docs: DataFrame, textCol: String = "text",
      minTokens: Int = 5, maxTokens: Int = 5000,
      maxTopUnigramFrac: Double = 0.2,
      maxDupTrigramRatio: Double = 0.35): DataFrame = {
    // one native hash-counting pass per row (graft.functions.RepetitionStats)
    // — the HOF formulation (sort_array+aggregate mode, transform trigrams,
    // array_distinct) computed the same counts at ~1.4 ms/row interpreted;
    // derived ratios/booleans below are identical Column math either way
    val stats = graft.functions.TextNativeFunctions.repStats(lower(col(textCol)))
    docs
      .withColumn("__rs", stats)
      .withColumn("n_tokens", col("__rs.n_tokens"))
      .withColumn("top_unigram_n", col("__rs.top_unigram_n"))
      .withColumn("top_unigram_frac",
        col("top_unigram_n").cast("double") / col("n_tokens"))
      .withColumn("n_trigrams", col("__rs.n_trigrams"))
      .withColumn("n_distinct_trigrams", col("__rs.n_distinct_trigrams"))
      .withColumn("dup_trigram_ratio",
        when(col("n_trigrams") === 0, lit(0.0))
          .otherwise(
            (col("n_trigrams") - col("n_distinct_trigrams")).cast("double") /
              col("n_trigrams")))
      .withColumn("keep",
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
          col("top_unigram_frac") <= maxTopUnigramFrac &&
          col("dup_trigram_ratio") <= maxDupTrigramRatio)
      .drop("__rs")
  }

  /** Top-k characteristic terms per group (e.g. language) by tf-idf with a
    * LINEAR idf — `score = tf·10⁶ div df` — computed in integer arithmetic
    * so ranking is engine-exact (log-idf orders the same way for fixed df
    * but its float values aren't portable). Terms in more than half of all
    * documents are dropped (the df-based stopword cut that log-idf would
    * down-weight smoothly).
    *
    * Scale: two hash aggregations (tf on (group, term), df on term — both
    * map-side combined, shuffles carry distinct keys only), a term-keyed
    * equi-join between them, a broadcast scalar for N, and a per-group
    * top-k window over ≤ |terms| rows. No step touches O(corpus) rows
    * after the first aggregation.
    */
  /** The BPE-training inner loop's counting step: global frequencies of
    * adjacent character pairs within whitespace tokens — the statistic a
    * byte-pair-encoding tokenizer trainer maximizes over when choosing the
    * next merge. Top-`topK` pairs, ties broken by pair text so ranking is
    * total and engine-exact.
    *
    * Scale: explode + hash aggregation; the shuffle carries (pair, partial
    * count) — at most |alphabet|² distinct keys — map-side combined. One
    * training iteration = run, merge, re-run; each pass is a full map-only
    * scan plus this constant-size aggregate.
    */
  def bpeMergePairs(
      docs: DataFrame, textCol: String = "text", topK: Int = 20): DataFrame = {
    val tok = explode(tokens(lower(col(textCol)))).as("tok")
    val pairs = docs.select(tok)
      .where(length(col("tok")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("tok")) - 1),
        i => substr(col("tok"), i, lit(2)))).as("pair"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("count").desc, col("pair").asc)
    pairs.groupBy("pair").agg(count(lit(1)).as("count"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** Per-document n-gram novelty: how common a document's n-grams are in
    * the whole corpus — a language-model-free perplexity proxy (rare-n-gram
    * documents ≈ unusual text; extremely-common-n-gram documents ≈
    * boilerplate). All integer arithmetic: `mean_freq_milli = Σ corpus-freq
    * of the doc's n-grams · 1000 div n-gram count`, so values are
    * engine-exact.
    *
    * Scale: one explode feeds the corpus-frequency aggregate AND the
    * per-doc join probe (same shared-exchange shape as [[tfIdfTopTerms]]);
    * the join keys on the n-gram and degrades from broadcast to shuffle as
    * the vocabulary grows. Docs with fewer than n tokens surface with
    * n_ngrams = 0 via the left join from the full corpus.
    */
  def ngramNovelty(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      n: Int = 2): DataFrame = {
    val grams = docs.select(
      col(idCol).as("did"),
      explode(graft.functions.TextNativeFunctions.ngrams(lower(col(textCol)), n)).as("gram"))
    val corpusFreq = grams.groupBy("gram").agg(count(lit(1)).as("freq"))
    val perDoc = grams.join(corpusFreq, "gram")
      .groupBy("did")
      .agg(count(lit(1)).as("n_ngrams"), sum(col("freq")).as("total_freq"))
    docs.select(col(idCol).as("did"))
      .join(perDoc, Seq("did"), "left")
      .select(
        col("did").as(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("total_freq"), lit(0L)).as("total_freq"),
        when(col("n_ngrams").isNull, 0L)
          .otherwise(ExactMath.floorDiv(col("total_freq") * 1000L, col("n_ngrams")))
          .as("mean_freq_milli"))
  }

  /** Character-trigram Simpson diversity per document — a log-free
    * perplexity proxy for gibberish/boilerplate detection. For each doc:
    * N = #char-trigrams of lower(text), Σc² over per-trigram counts, and
    * diversity = 1 − Σc²/N² (0 = one trigram repeated, → 1 = all
    * distinct). Unlike entropy this needs NO transcendental functions, so
    * the score is integer-exact up to one final IEEE division and ports
    * bit-for-bit across engines.
    *
    * Scale: explode → two hash aggregations, both map-side combined; the
    * trigram stream is the only shuffle and carries (id, 3 chars).
    */
  def trigramDiversity(
      docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // one native counting pass per row (graft.functions.CharTrigramStats):
    // the explode formulation shuffled one row PER CHARACTER through two
    // aggregations — this is map-only, zero shuffle, same counts. Docs
    // under 3 chars drop out (they produced no gram rows before).
    val stats = graft.functions.TextNativeFunctions.charTrigramStats(lower(col(textCol)))
    docs
      .select(col(idCol), stats.as("__ts"))
      .where(col("__ts.n_trigrams") > 0)
      .select(
        col(idCol),
        col("__ts.n_trigrams").as("n_trigrams"),
        col("__ts.n_distinct").as("n_distinct"),
        col("__ts.simpson_num").as("simpson_num"))
      .withColumn("diversity",
        round(lit(1.0) -
          col("simpson_num").cast("double") /
            (col("n_trigrams").cast("double") * col("n_trigrams").cast("double")), 6))
  }

  def tfIdfTopTerms(
      docs: DataFrame, textCol: String = "text", groupCol: String = "lang",
      idCol: String = "doc_id", topK: Int = 5, n: Int = 1): DataFrame = {
    val terms = docs.select(
      col(groupCol).as("grp"), col(idCol).as("did"),
      explode(graft.functions.TextNativeFunctions.ngrams(lower(col(textCol)), n)).as("term"))
    // Both aggregates derive from the (grp, term, did) pre-aggregate:
    // tf = Σ per-doc counts, and — because a document has exactly one
    // group — df is a PLAIN row count per term (no distinct-aggregate
    // expand, no distinct buffers; the count runs over per-doc distinct
    // terms, not raw occurrences).
    val perDoc = terms.groupBy("grp", "term", "did")
      .agg(count(lit(1)).as("c"))
    val tf = perDoc.groupBy("grp", "term").agg(sum(col("c")).as("tf"))
    val dfreq = perDoc.groupBy("term").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .filter(col("df") * 2 <= col("n_docs")) // corpus-wide stopword cut
      .withColumn("score", ExactMath.floorDiv(col("tf") * 1000000L, col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("grp").as(groupCol), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Collocation mining by integer-exact LIFT — PMI's ratio without its
    * logarithm, so the score is a deterministic integer in any engine:
    * lift(a,b) = p(ab)/(p(a)·p(b)) over occurrence distributions
    *           = c_ab·N² / (B·c_a·c_b),
    * reported as lift_fp = ⌊c_ab·N²·2²⁰ / (B·c_a·c_b)⌋ (DECIMAL(38)
    * products — the c_ab·N²·2²⁰ numerator overflows a long). The log is
    * monotone, so ranking by lift IS ranking by PMI; the fixed-point ratio
    * just skips the one transform whose libm rounding differs across
    * engines. `minCount` suppresses the unstable low-support tail (a
    * hapax bigram of two hapax tokens has infinite-looking lift).
    *
    * Scale: occurrence counts are map-side-combined groupBys keyed by the
    * (growing) vocabulary; component counts join back on single tokens
    * (tokens are space-split so the bigram string parses unambiguously);
    * N and B attach as 1-row broadcast aggregates; the final top-k is a
    * global TakeOrdered over the minCount-filtered pair table.
    */
  def collocationLift(
      docs: DataFrame,
      textCol: String = "text",
      minCount: Long = 5L,
      topK: Int = 20): DataFrame = {
    import graft.functions.TextNativeFunctions.ngrams
    val dec = "decimal(38,0)"
    val uni = docs
      .select(explode(ngrams(lower(col(textCol)), 1)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val nRow = uni.agg(sum(col("c")).cast("long").as("n_tokens"))
    val biCounts = docs
      .select(explode(ngrams(lower(col(textCol)), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
    val bRow = biCounts.agg(sum(col("c_ab")).cast("long").as("n_bigrams"))
    val bi = biCounts
      .filter(col("c_ab") >= minCount)
      .withColumn("term_a", split(col("bigram"), " ").getItem(0))
      .withColumn("term_b", split(col("bigram"), " ").getItem(1))
    bi
      .join(uni.select(col("term").as("term_a"), col("c").as("c_a")), Seq("term_a"))
      .join(uni.select(col("term").as("term_b"), col("c").as("c_b")), Seq("term_b"))
      .crossJoin(broadcast(nRow)).crossJoin(broadcast(bRow))
      .withColumn("lift_fp",
        ExactMath.floorDiv(
          col("c_ab").cast(dec) * col("n_tokens").cast(dec) *
            col("n_tokens").cast(dec) * lit(1048576L).cast(dec),
          col("n_bigrams").cast(dec) * col("c_a").cast(dec) * col("c_b").cast(dec)))
      .select(col("term_a"), col("term_b"), col("c_ab"),
        col("c_a"), col("c_b"), col("lift_fp"))
      .orderBy(col("lift_fp").desc, col("term_a").asc, col("term_b").asc)
      .limit(topK)
  }

  /** Boilerplate prefix detection: per source, the most-repeated leading
    * `prefixChars` characters across documents — scraped-template headers
    * ("Skip to main content…", cookie banners) show up as one prefix with
    * a large doc count. Curation acts on the hits (strip the prefix or
    * down-weight the source).
    *
    * Scale: one map-side-combined groupBy on (source, prefix); the
    * row_number window runs over REPEATED prefixes only (n ≥ `minDocs`),
    * a set the filter keeps tiny however large the corpus.
    */
  def boilerplatePrefixes(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text",
      prefixChars: Int = 32,
      topK: Int = 3,
      minDocs: Long = 2): DataFrame = {
    val counts = docs
      .select(col(sourceCol).as("source"),
        substring(col(textCol), 1, prefixChars).as("prefix"))
      .groupBy("source", "prefix").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_docs").desc, col("prefix").asc)
    counts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("source"), col("prefix"), col("n_docs"), col("rk"))
  }

  /** Repeated-span mining: the `spanWords`-word windows shared by the most
    * documents ANYWHERE in the text — the interior-boilerplate complement
    * of [[boilerplatePrefixes]] (prefix-only) and the sliding-window
    * complement of [[Dedup.segmentDedup]] (disjoint segments): a template
    * sentence at a random offset is invisible to both, but some window
    * aligns with it here. Within a document each distinct span counts
    * once (the native shingle builder de-duplicates per doc), so `n_docs`
    * is exactly the number of documents containing the span.
    *
    * Scale: the data-scale shuffle carries (span-hash, doc_id) longs only
    * — never span text. The top-k hash set (≤ `topK` rows) broadcasts
    * back over a second map-side shingle pass to recover the span string;
    * only occurrences of winning spans shuffle text, and only to
    * reassemble `topK` rows.
    */
  def repeatedSpans(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      spanWords: Int = 8,
      minDocs: Long = 2,
      topK: Int = 20): DataFrame = {
    def shingled = docs.select(
      col(idCol).as("doc_id"),
      explode(Dedup.shingles(col(textCol), spanWords)).as("span"))
    val top = shingled
      .select(col("doc_id"), Dedup.stableHash(col("span"), 5).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("h").asc)
      .limit(topK)
    shingled
      .select(Dedup.stableHash(col("span"), 5).as("h"), col("span"))
      .join(broadcast(top), Seq("h"))
      .groupBy(col("h"), col("n_docs"), col("first_doc"))
      .agg(min(col("span")).as("span"))
      .select(col("span"), col("n_docs"), col("first_doc"))
  }

  /** Act on [[boilerplatePrefixes]]: remove each source's single most
    * repeated prefix from every document that starts with it. The
    * detected-prefix table is per-source (broadcast); docs stream through
    * map-side — no shuffle of the corpus.
    */
  def stripBoilerplate(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id",
      prefixChars: Int = 32,
      minDocs: Long = 2): DataFrame = {
    val hits = boilerplatePrefixes(docs, sourceCol, textCol, prefixChars, topK = 1, minDocs)
      .select(col("source").as("__src"), col("prefix"))
    val isHit = col("prefix").isNotNull && col(textCol).startsWith(col("prefix"))
    docs
      .join(broadcast(hits), docs(sourceCol) === col("__src"), "left")
      .select(
        col(idCol), col(sourceCol),
        isHit.as("stripped"),
        when(isHit, substring(col(textCol), prefixChars + 1, Int.MaxValue))
          .otherwise(col(textCol)).as("text_clean"))
  }

  /** Markup pattern shared with the metric columns: an HTML-ish tag is
    * `<`, anything but `>`, then `>`. Java∩RE2-safe (no lookaround).
    */
  private val tagPattern = "<[^>]*>"
  private val entityPattern = "&(amp|lt|gt|quot|nbsp|#39);"

  /** Strip HTML-ish markup from extracted web text: remove tags, decode
    * the six entities that survive real-world extraction (`&amp; &lt;
    * &gt; &quot; &#39; &nbsp;`), collapse whitespace, trim. Entity
    * decoding is single-level by construction: the five literal entities
    * decode first and `&amp;` decodes LAST, so `&amp;lt;` becomes the
    * four characters `&lt;` (correct HTML semantics), never `<`.
    *
    * Emits per-doc audit metrics alongside the cleaned text — tag and
    * entity counts and the length delta — so a drift monitor can catch an
    * upstream extractor regression (tag counts jumping from ~0 is the
    * canonical symptom).
    *
    * Scale: map-only (regex + fixed replace chain per row, no shuffle);
    * at 100 TB this pins at CPU on the scan, which is the best case.
    */
  /** The markup-strip pipeline as a Column — tag removal, single-level
    * entity decode (`&amp;` LAST), whitespace collapse, trim — shared by
    * [[stripMarkup]] and the WET-style WARC text extraction.
    */
  def cleanMarkup(t: Column): Column = {
    val untagged = regexp_replace(t, tagPattern, " ")
    val decoded = replace(replace(replace(replace(replace(replace(
      untagged,
      lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
      lit("&quot;"), lit("\"")), lit("&#39;"), lit("'")),
      lit("&nbsp;"), lit(" ")), lit("&amp;"), lit("&"))
    // explicit class, not \s: Java's \s includes \x0B, RE2's does not
    trim(regexp_replace(decoded, "[ \\t\\n\\r\\f]+", " "))
  }

  def stripMarkup(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      cleanMarkup(t).as("text_clean"),
      size(regexp_extract_all(t, lit(tagPattern), lit(0))).cast("long").as("n_tags"),
      size(regexp_extract_all(t, lit(entityPattern), lit(0))).cast("long").as("n_entities"),
      length(t).cast("long").as("raw_len"))
      .withColumn("clean_len", length(col("text_clean")).cast("long"))
  }
}
