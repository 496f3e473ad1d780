package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native repetition-statistics expression (SURVEY preference order (b):
  * custom Catalyst `Expression` beats higher-order functions beats UDFs).
  *
  * The HOF formulation of the repetition metrics (sort_array + aggregate
  * with a struct accumulator for the unigram mode, transform + array_join
  * per position for trigrams, array_distinct's pairwise equality scan) is
  * interpreted per element with boxed lambda dispatch — measured ~1.4 ms
  * PER ROW at sf0.1, which turns a "map-only, scan-bound" gate into the
  * single most expensive query in the suite. This expression computes all
  * four counts in ONE hash-counting pass over the token array in plain JVM
  * code (~µs per row).
  *
  * Semantics are IDENTICAL to the HOF formulation (and to the DuckDB
  * oracle): tokens = split(text, " ") keeping empties (regex split with
  * limit −1), trigram count = max(n−2, 0), distinct trigrams over
  * space-joined windows, top unigram = max bag multiplicity.
  */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("top_unigram_n", LongType, nullable = false),
    StructField("n_trigrams", LongType, nullable = false),
    StructField("n_distinct_trigrams", LongType, nullable = false)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_repstats expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    // same token semantics as Spark's split(text, " "): java regex split
    // with limit -1 (trailing empties kept; "" yields one empty token)
    val toks = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val n = toks.length
    val counts = new java.util.HashMap[String, Long](n * 2)
    var top = 0L
    var i = 0
    while (i < n) {
      val c = counts.merge(toks(i), 1L, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    var nTri = 0L
    var nDistinct = 0L
    if (n >= 3) {
      nTri = (n - 2).toLong
      val tri = new java.util.HashSet[String](n * 2)
      i = 0
      while (i <= n - 3) {
        tri.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
        i += 1
      }
      nDistinct = tri.size.toLong
    }
    InternalRow(n.toLong, top, nTri, nDistinct)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native word-n-gram array builder — same output as the HOF formulation
  * (`transform(sequence(...), i => array_join(slice(toks, i+1, n), " "))`),
  * built in one pass of plain JVM string code instead of n interpreted
  * lambda evaluations with per-window slice allocations. Fewer-than-n
  * tokens yields an empty array (explode drops the row), matching the HOF
  * and oracle semantics.
  */
case class WordNGrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"WordNGrams needs n >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_ngrams expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    if (toks.length < n)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](toks.length - n + 1)
      var i = 0
      while (i < out.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native distinct word-k-shingle builder — the set-semantics twin of
  * [[WordNGrams]] and the kernel behind `Dedup.shingles`: distinct k-token
  * windows in first-occurrence order, or the whole text as one shingle when
  * the doc has fewer than k tokens. One pass with a linked hash set instead
  * of the HOF transform + array_distinct's pairwise equality scan (the HOF
  * form stays in PropertySpec as the reference).
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, s"WordShingles needs k >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_shingles expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val toks = s.split(" ", -1)
    val seen = new java.util.LinkedHashSet[String]()
    if (toks.length < k) seen.add(s)
    else {
      var i = 0
      while (i <= toks.length - k) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native 60-bit stable hash: the first 15 hex digits of
  * md5(c + "#" + seed) as a Long — bit-identical to the composed
  * `conv(substr(md5(concat_ws('#', c, seed)), 1, 15), 16, 10)::long` and to
  * DuckDB's `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`, including
  * concat_ws's null rule (a null `c` hashes the seed alone, so the result is
  * never null). The input is a string; `Dedup.stableHash` casts others as
  * concat_ws does.
  *
  * The composed chain is five nodes per value (md5 → 32-char hex string →
  * substr → conv's string parse → cast); this is one digest of the row's
  * UTF-8 bytes into a per-task MessageDigest, with the prefix read off the
  * digest bytes. The seed reaches generated code as a reference, not a
  * literal, so every seed shares one compiled class.
  */
case class StableHash(child: Expression, seed: Int)
    extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_stable_hash expects string, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_stable_hash"
  override def sql: String = s"$prettyName(${child.sql}, $seed)"

  /** "#seed" — the bytes concat_ws appends; a null input hashes bytes 1.. */
  @transient private lazy val suffix: Array[Byte] =
    s"#$seed".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def eval(input: InternalRow): Any =
    StableHash.hash(StableHash.threadDigest.get(),
      child.eval(input).asInstanceOf[UTF8String], suffix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val helper = StableHash.getClass.getName + ".MODULE$"
    val md = ctx.addMutableState("java.security.MessageDigest", "md5",
      v => s"$v = $helper.newDigest();")
    val sfx = ctx.addReferenceObj("stableHashSuffix", suffix, "byte[]")
    ev.copy(isNull = FalseLiteral, code = code"""
      |${c.code}
      |long ${ev.value} = $helper.hash($md, ${c.isNull} ? null : ${c.value}, $sfx);
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object StableHash {
  def newDigest(): java.security.MessageDigest =
    java.security.MessageDigest.getInstance("MD5")

  /** Interpreted evaluation may share one expression across threads. */
  private[functions] val threadDigest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => newDigest())

  /** md5 of `s` (absent when null) followed by `suffix`, or of the seed
    * alone (`suffix` past its '#') when `s` is null; the digest's first 60
    * bits.
    */
  def hash(md: java.security.MessageDigest, s: UTF8String, suffix: Array[Byte]): Long = {
    if (s == null) md.update(suffix, 1, suffix.length - 1)
    else {
      md.update(s.getByteBuffer)
      md.update(suffix)
    }
    val d = md.digest()
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xff) >>> 4)
  }
}

/** Native char-trigram Simpson statistics — one hash-counting pass per
  * document over code-point-aligned 3-char windows (the same windows
  * Spark's `substring`/DuckDB's `substr` produce), returning
  * struct(n_trigrams, n_distinct, simpson_num). Replaces an explode of
  * one row PER CHARACTER plus two shuffled aggregations with a map-only
  * scan — at 100 TB the difference between a shuffle sized like the
  * corpus' character count and no shuffle at all.
  */
case class CharTrigramStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_trigrams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("simpson_num", LongType, nullable = false)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_chartristats expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // code-point boundaries (UTF-16 indices), so windows match SQL
    // substring semantics for non-BMP text
    val nCp = s.codePointCount(0, s.length)
    if (nCp < 3) InternalRow(0L, 0L, 0L)
    else {
      val bounds = new Array[Int](nCp + 1)
      var idx = 0
      var cp = 0
      while (cp < nCp) {
        bounds(cp) = idx
        idx = s.offsetByCodePoints(idx, 1)
        cp += 1
      }
      bounds(nCp) = s.length
      val counts = new java.util.HashMap[String, Long]((nCp - 2) * 2)
      var i = 0
      while (i <= nCp - 3) {
        counts.merge(s.substring(bounds(i), bounds(i + 3)), 1L, (a, b) => a + b)
        i += 1
      }
      var simpson = 0L
      val it = counts.values().iterator()
      while (it.hasNext) { val c = it.next(); simpson += c * c }
      InternalRow((nCp - 2).toLong, counts.size.toLong, simpson)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native per-language marker scores — one pass over the padded lowered
  * text, returning `array<double>` with one score per `TextAnalysis
  * .langMarkers` entry (declaration order). Bit-identical to the composed
  * column form (`langScore`): each marker count is the non-overlapping
  * left-to-right occurrence count of `" marker "` in `" "+lower(text)+" "`
  * (what Spark's `replace` length-arithmetic counts), divided as
  * `count / needle_chars` in DOUBLE, and the per-language sum folds those
  * doubles left-to-right in marker order.
  *
  * Why native: the composed form re-inlines all ~23 marker replace trees
  * into every `greatest`/CASE reference of a score — multi-referenced
  * langId argmax projections blew Janino's 64 KB method limit into
  * interpreted fallback AND re-evaluated each marker count per reference.
  * Here the text is lowered once and each marker is counted once per row;
  * downstream argmax logic references 5 array elements. Lowercasing uses
  * UTF8String.toLowerCase — the exact operation Spark's `lower` runs — so
  * the oracle's `lower()` replay is unaffected.
  */
case class LangMarkerScores(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_langscores expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val padded = UTF8String.concat(
      LangMarkerScores.space, input.asInstanceOf[UTF8String], LangMarkerScores.space)
    val out = new Array[Any](LangMarkerScores.needles.length)
    val hay = padded.toLowerCase
    var li = 0
    while (li < LangMarkerScores.needles.length) {
      val markers = LangMarkerScores.needles(li)
      var score = 0.0
      var mi = 0
      while (mi < markers.length) {
        val (needle, nChars) = markers(mi)
        var count = 0L
        var from = 0
        var idx = hay.indexOf(needle, from)
        while (idx >= 0) {
          count += 1
          from = idx + nChars
          idx = hay.indexOf(needle, from)
        }
        // composed form: (chars_removed)/needle_chars == occurrence count,
        // an integer-valued double — sum the counts directly
        score += count.toDouble
        mi += 1
      }
      out(li) = score
      li += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LangMarkerScores {
  private val space = UTF8String.fromString(" ")
  /** (needle, needle numChars) per language, langMarkers declaration order. */
  private val needles: Array[Array[(UTF8String, Int)]] =
    graft.ext.TextAnalysis.langMarkers.map { case (_, ms) =>
      ms.map { m =>
        val n = UTF8String.fromString(s" $m ")
        (n, n.numChars())
      }.toArray
    }.toArray
}

object TextNativeFunctions {

  /** One-pass repetition counts of a (pre-lowercased) text column, as a
    * struct(n_tokens, top_unigram_n, n_trigrams, n_distinct_trigrams).
    */
  def repStats(text: Column): Column =
    ColumnBridge.column(RepetitionStats(ColumnBridge.expression(text)))

  /** One-pass word-n-gram array of a (pre-lowercased) text column. */
  def ngrams(text: Column, n: Int): Column =
    ColumnBridge.column(WordNGrams(ColumnBridge.expression(text), n))

  /** One-pass char-trigram Simpson counts of a (pre-lowercased) text
    * column, as a struct(n_trigrams, n_distinct, simpson_num).
    */
  def charTrigramStats(text: Column): Column =
    ColumnBridge.column(CharTrigramStats(ColumnBridge.expression(text)))

  /** One-pass per-language marker scores (langMarkers order), array<double>. */
  def langScores(text: Column): Column =
    ColumnBridge.column(LangMarkerScores(ColumnBridge.expression(text)))
}
