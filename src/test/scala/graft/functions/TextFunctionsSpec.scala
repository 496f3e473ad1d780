package graft.functions

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ext.TextAnalysis

/** §2.9 — the SQL scalar surface is the SAME expression tree as the
  * DataFrame API: results must be identical row-for-row, whichever face the
  * user calls through.
  */
class TextFunctionsSpec extends SparkSpec {

  test("SQL scalars equal the DataFrame operators on real documents") {
    TextFunctions.register(spark)
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
    TextFunctions.register(spark)
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

  test("native functions are registered once per session, not replaced on every use") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    val names = Seq("graft_dot", "graft_repstats", "graft_ngrams", "graft_shingles",
      "graft_chartristats", "graft_langscores")
    // a registration makes a new ExpressionInfo, so an unchanged instance
    // means the function was not registered again
    def infos = names.map(n => registry.lookupFunction(FunctionIdentifier(n)))
    TextNativeFunctions.register(spark) // graft_langscores is not injected by the extensions
    val first = infos
    assert(first.forall(_.isDefined))
    VectorFunctions.dotNative(spark, col("a"), col("b"))
    TextNativeFunctions.register(spark)
    infos.zip(first).foreach { case (now, before) => assert(now.get eq before.get) }
  }

  test("media codec and text scalar functions are registered once per session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    val registers: Seq[org.apache.spark.sql.SparkSession => Unit] = Seq(
      PngNativeFunctions.register, GifNativeFunctions.register, JpegNativeFunctions.register,
      AiffNativeFunctions.register, BmpRleNativeFunctions.register, MediaNativeFunctions.register,
      ZipNativeFunctions.register, FlacNativeFunctions.register, TarNativeFunctions.register,
      AviNativeFunctions.register, QoiNativeFunctions.register, WarcNativeFunctions.register,
      TiffNativeFunctions.register, IcoNativeFunctions.register, JpegDctNativeFunctions.register,
      TextFunctions.register)
    registers.foreach(_(spark))
    val names = registry.listFunction().map(_.funcName).filter(_.startsWith("graft_"))
    def infos = names.map(n => registry.lookupFunction(FunctionIdentifier(n)).get)
    val first = infos
    assert(names.size >= 46 + TextFunctions.all.size)
    registers.foreach(_(spark))
    infos.zip(first).foreach { case (now, before) => assert(now eq before) }
  }
}
