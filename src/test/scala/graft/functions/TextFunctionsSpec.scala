package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ext.{Dedup, TextAnalysis}
import graft.plans.GraftExtensions

/** §2.9 — the SQL scalar surface is the SAME expression tree as the
  * DataFrame API: results must be identical row-for-row, whichever face the
  * user calls through.
  */
class TextFunctionsSpec extends SparkSpec {

  test("SQL scalars equal the DataFrame operators on real documents") {
    val docs = Tables.documents(spark, sf0001)
    docs.createOrReplaceTempView("tf_docs")
    val viaSql = spark.sql(
      """SELECT doc_id,
        |       graft_lang_id(text) AS lang,
        |       graft_token_count(text) AS nt,
        |       graft_bpe_count(text) AS nb,
        |       graft_fingerprint(text) AS fp,
        |       graft_quality(text) AS q
        |FROM tf_docs""".stripMargin).collect().toSet
    val viaApi = docs.select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.tokenCount(col("text")).as("nt"),
      TextAnalysis.bpeTokenCount(col("text")).as("nb"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.qualityScore(col("text")).as("q")).collect().toSet
    assert(viaSql.nonEmpty)
    assert(viaSql === viaApi)
  }

  test("graft_hamming counts differing bits") {
    val r = spark.sql(
      "SELECT graft_hamming(CAST(5 AS BIGINT), CAST(1 AS BIGINT)) AS h").collect().head
    assert(r.getAs[Number]("h").intValue === 1) // 0b101 vs 0b001
  }

  test("extension-built sessions get the functions without explicit register") {
    // SparkSpec's session is built with spark.sql.extensions=GraftExtensions,
    // so the injected registrations must already be visible.
    val r = spark.sql("SELECT graft_token_count('a b c') AS n").collect().head
    assert(r.getAs[Number]("n").intValue === 3)
  }

  test("native text expressions are injected into SQL by the extensions") {
    val ng = spark.sql("SELECT graft_ngrams('a b c', 2) AS g").collect().head
    assert(ng.getSeq[String](0) === Seq("a b", "b c"))
    val sh = spark.sql("SELECT graft_shingles('a b a b', 3) AS s").collect().head
    assert(sh.getSeq[String](0) === Seq("a b a", "b a b"))
    val rs = spark.sql(
      "SELECT graft_repstats('x x y').n_tokens AS n, graft_repstats('x x y').top_unigram_n AS t")
      .collect().head
    assert(rs.getLong(0) === 3L && rs.getLong(1) === 2L)
    val ct = spark.sql(
      "SELECT graft_chartristats('aaaa').n_trigrams AS n, graft_chartristats('aaaa').simpson_num AS s")
      .collect().head
    assert(ct.getLong(0) === 2L && ct.getLong(1) === 4L)
  }

  test("every wrapper leaves the registry's graft_* names exactly the injected table") {
    val registry = spark.sessionState.functionRegistry
    def graftNames = registry.listFunction().map(_.funcName).filter(_.startsWith("graft_")).toSet
    val injected = GraftExtensions.functions.map(_._1).toSet
    assert(graftNames === injected)
    val (b, t, v, l) = (col("b"), col("t"), col("v"), col("l"))
    val wrappers = Seq(
      AiffNativeFunctions.aiffEncode(b, 1), AiffNativeFunctions.aiffDecode(b),
      AviNativeFunctions.aviMjpegEncode(b, 8, 64), AviNativeFunctions.aviAvEncode(b, 8, 64),
      AviNativeFunctions.aviMjpegDecode(b), AviNativeFunctions.aviAvDecode(b),
      BmpRleNativeFunctions.bmpRle8Encode(b, 4), BmpRleNativeFunctions.bmpRle8Decode(b),
      BmpRleNativeFunctions.bmpRle4Encode(b, 4), BmpRleNativeFunctions.bmpRle4Decode(b),
      FlacNativeFunctions.flacEncode(b), FlacNativeFunctions.flacDecode(b),
      GifNativeFunctions.gifEncode(b, 4), GifNativeFunctions.gifDecode(b),
      GifNativeFunctions.gifComposite(b),
      IcoNativeFunctions.icoEncode(b, 4), IcoNativeFunctions.icoDecode(b),
      JpegDctNativeFunctions.jpegYccEncode(b, 2, 1), JpegDctNativeFunctions.jpeg420Encode(b),
      JpegDctNativeFunctions.jpegDctEncode(b, 8), JpegDctNativeFunctions.jpegProgEncode(b, 8),
      JpegDctNativeFunctions.jpegMetaEncode(b, 8), JpegDctNativeFunctions.jpegDctDecode(b),
      JpegNativeFunctions.jpegEncode(b, 8), JpegNativeFunctions.jpegDecode(b),
      MediaNativeFunctions.ppmHeaderParse(b), MediaNativeFunctions.y4mHeaderParse(b),
      MediaNativeFunctions.bmpDHashWalk(b, l, l, l, l, l),
      MediaNativeFunctions.bmpDHash128Walk(b, l, l, l, l, l),
      MediaNativeFunctions.y4mFrameWalk(b, l, l, l, l, l),
      PngNativeFunctions.pngEncode(b, 4), PngNativeFunctions.pngDecode(b),
      QoiNativeFunctions.qoiEncode(b, 4), QoiNativeFunctions.qoiDecode(b),
      TarNativeFunctions.tarEncode(b, 64, gz = false), TarNativeFunctions.tarDecode(b, gz = false),
      TarNativeFunctions.tarMembers(b, gz = false),
      TextNativeFunctions.repStats(t), TextNativeFunctions.ngrams(t, 2),
      TextNativeFunctions.charTrigramStats(t), TextNativeFunctions.langScores(t),
      TextAnalysis.langId(t), Dedup.shingles(t),
      TiffNativeFunctions.tiffEncode(b, 4, bigEndian = false, packBits = false),
      TiffNativeFunctions.tiffDecode(b),
      VectorFunctions.dotNative(v, v),
      WarcNativeFunctions.warcEncode(b, 64, gz = false), WarcNativeFunctions.warcDecode(b, gz = false),
      WarcNativeFunctions.warcHttpEncode(b, 64, gz = false),
      WarcNativeFunctions.warcHttpStats(b, gz = false),
      WarcNativeFunctions.warcHttpRecords(b, gz = false),
      ZipNativeFunctions.zipEncode(b, 64, deflate = false), ZipNativeFunctions.zipDecode(b),
      ZipNativeFunctions.zipMembers(b))
    spark.range(1)
      .select(lit(Array[Byte]()).as("b"), lit("a b c").as("t"),
        array(lit(1f), lit(2f)).as("v"), col("id").as("l"))
      .select(wrappers: _*)
      .queryExecution.assertAnalyzed()
    assert(graftNames === injected)
  }

  test("each SQL function builds the same plan as the Scala API it names") {
    val df = spark.range(4).select(
      concat(lit("a b a b "), col("id").cast("string")).as("text"),
      array(col("id").cast("float"), lit(1f)).as("vec"),
      col("id").as("h"))
    val t = col("text")
    val cases: Seq[(String, Column)] = Seq(
      "graft_token_count(text)" -> TextAnalysis.tokenCount(t),
      "graft_bpe_count(text)" -> TextAnalysis.bpeTokenCount(t),
      "graft_lang_id(text)" -> TextAnalysis.langId(t),
      "graft_fingerprint(text)" -> TextAnalysis.fingerprint(t),
      "graft_quality(text)" -> TextAnalysis.qualityScore(t),
      "graft_hamming(h, h)" -> Dedup.hammingDist(col("h"), col("h")),
      "graft_dot(vec, vec)" -> VectorFunctions.dotNative(col("vec"), col("vec")),
      "graft_repstats(text)" -> TextNativeFunctions.repStats(t),
      "graft_chartristats(text)" -> TextNativeFunctions.charTrigramStats(t),
      "graft_ngrams(text, 2)" -> TextNativeFunctions.ngrams(t, 2),
      "graft_shingles(text, 3)" -> Dedup.shingles(t, 3))
    assert(cases.map(_._1.takeWhile(_ != '(')).toSet ===
      GraftExtensions.functions.map(_._1).toSet)
    def plan(d: DataFrame) = d.queryExecution.optimizedPlan.canonicalized
    cases.foreach { case (sql, api) =>
      assert(plan(df.selectExpr(s"$sql AS x")) === plan(df.select(api.as("x"))), sql)
    }
  }
}
