package graft.detect

import scala.util.Random

import graft.SparkSpec
import graft.analyze.{KeyClassifier, KeyColumn}
import graft.core._
import graft.state.RelationshipCache
import org.apache.spark.sql.DataFrame

/** The driver-side classifier and detector against the DataFrame versions
  * they replaced (kept verbatim in ReferenceDetector.scala): over random
  * catalogs, classification, every strategy, and the whole pipeline after
  * validate → resolve → top-k must give the same rows.
  *
  * The catalogs mix the warehouse vocabulary (h_/dim_/l_/ref_/fact_/
  * bridge_/tbl_), TPC-H column prefixes and every key suffix, every key
  * type, nullability, arrays and mixed-case names; the configs switch table
  * patterns, indicators, naming rules, custom rules, confidence overrides
  * and the enhanced type fallback on and off. Table names are unique
  * case-insensitively and rule confidences distinct, so no Spark window in
  * the reference meets a tie it would break arbitrarily. Each catalog draws
  * its tables from a few entities, so several targets compete for one
  * column and the strategies' orderings decide the edges.
  */
class DetectorEquivalenceSpec extends SparkSpec {

  private val tablePrefixes = Seq("", "", "h_", "dim_", "l_", "ref_", "fact_", "bridge_", "tbl_", "table_")
  private val entities = Seq("customer", "customers", "order", "orders", "user", "part", "nation",
    "region", "status", "bus", "address", "sku", "a")
  private val columnPrefixes = Seq("", "", "", "c_", "o_", "l_", "ps_", "pk_")
  private val suffixes = Seq("_id", "id", "_key", "key", "_fk", "_pk", "_hk", "_hash_key", "_sk",
    "_code", "_number", "_ref", "s", "")
  private val plainNames = Seq("id", "key", "pk", "code", "name", "amount", "note", "identifier")
  private val types = Seq("bigint", "bigint", "integer", "string", "string", "binary", "smallint",
    "double", "decimal", "boolean", "date", "timestamp")

  private def mixCase(r: Random, s: String) =
    if (r.nextInt(6) == 0) s.capitalize else if (r.nextInt(12) == 0) s.toUpperCase else s

  private def catalog(r: Random): Seq[TableMeta] = {
    // a few entities per catalog, so several tables (customer, h_customer,
    // customers, ...) compete for the same key stems
    val mine = r.shuffle(entities).take(2 + r.nextInt(3))
    def pick[A](xs: Seq[A]) = xs(r.nextInt(xs.size))
    val names = Iterator.continually(mixCase(r, pick(tablePrefixes) + pick(mine)))
      .distinctBy(_.toLowerCase).take(4 + r.nextInt(6)).toSeq
    names.map { t =>
      val cols = Iterator.continually {
        if (r.nextInt(4) == 0) pick(plainNames)
        else pick(columnPrefixes) + pick(r.nextInt(5) match {
          case 0 => entities
          case 1 => mine.flatMap(e => Seq(e.take(2), e.take(3))) // cukey, ordkey
          case _ => mine
        }) + pick(suffixes)
      }.map(mixCase(r, _)).distinct.take(2 + r.nextInt(6)).toSeq
      // few types and mostly REQUIRED, so the enhanced cascade's exact
      // type-and-mode compatibility often holds
      TableMeta(t, s"/lake/$t.parquet", "TABLE", cols.zipWithIndex.map { case (c, i) =>
        val dataType = if (r.nextInt(3) == 0) pick(types) else pick(Seq("bigint", "string"))
        ColumnMeta(c, dataType, r.nextInt(4) == 0, r.nextInt(10) == 0, i)
      }, r.nextInt(1000).toLong, 0L)
    }
  }

  private def config(r: Random): DetectionConfig = {
    def maybe[A](a: => Seq[A]) = if (r.nextBoolean()) a else Nil
    DetectionConfig(
      minConfidence = Seq(0.3, 0.5, 0.85)(r.nextInt(3)),
      maxRelationshipsPerTable = 1 + r.nextInt(4),
      backfillMin = r.nextInt(4),
      enhancedTypeFallback = r.nextBoolean(),
      pkIndicatorRegexes = maybe(Seq("customer_c*", "*_number").map(ConfigLoader.wildcardToRegex)),
      fkIndicatorRegexes = maybe(Seq("*_ref", "Status").map(ConfigLoader.wildcardToRegex)),
      tablePatterns = maybe(Seq(
        TablePattern("traditional_dw", "fact", "fact_", pkPatterns = Seq("*_code"),
          fkPatterns = Seq("*_ref"), relTargetTables = Seq("dim_*", "H_*"), relConfidence = 0.97),
        TablePattern("data_vault", "link", "L_", fkPatterns = Seq("*_hk"),
          relTargetTables = Seq("*customer*"), relType = "many_to_many", relConfidence = 0.83),
        TablePattern("data_vault", "reference", "ref_", pkPatterns = Seq("*_code")))),
      confidenceScoring = maybe(Seq("exact_match" -> 0.55, "pattern_match" -> 0.96)).toMap)
  }

  private def namingRules(r: Random): Seq[NamingRule] =
    if (r.nextBoolean()) Nil
    else Seq(NamingRule("^(.+)_id$", "s", 0.8), NamingRule("^([a-z]+)_ref$", "", 0.65),
      NamingRule("^(x)?.*_key$", "", 0.61), NamingRule("_(.+)key$", "s", 0.7))

  private def customRules(r: Random, tables: Seq[TableMeta]): Seq[CustomRule] = {
    def end() = {
      val t = tables(r.nextInt(tables.size))
      (t.tableName, if (r.nextInt(5) == 0) "missing" else t.columns(r.nextInt(t.columns.size)).name)
    }
    (0 until r.nextInt(4)).map { i =>
      val ((st, sc), (tt, tc)) = (end(), end())
      CustomRule(st, sc, tt, tc, Seq("many_to_one", "one_to_one")(r.nextInt(2)), 0.71 + i * 0.06)
    }
  }

  private def sorted(edges: Seq[Relationship]) = edges.sortBy(_.toString)
  private def edges(df: DataFrame) = sorted(RelationshipCache.collectEdges(df))

  test("classification and detection equal the DataFrame reference on random catalogs") {
    (1 to 16).foreach { seed =>
      val r = new Random(seed)
      val tables = catalog(r)
      val cfg = config(r)
      val (naming, custom) = (namingRules(r), customRules(r, tables))
      val clue = s"seed $seed: ${tables.map(t => t.tableName -> t.columns.map(_.name))}"
      val refs = tables.flatMap(t => t.columns.map(c =>
        ColumnRef(t.tableName, c.name, c.dataType, c.nullable, c.isArray, c.ordinal, t.numRows)))
      val refCols = ReferenceKeyClassifier.classify(spark.createDataFrame(refs), cfg).cache()
      val cols: Seq[KeyColumn] = KeyClassifier.classify(tables, cfg)
      def byColumn(cs: Seq[KeyColumn]) = cs.sortBy(c => (c.tableName, c.ordinal))
      assert(byColumn(KeyClassifier.collect(refCols)) === byColumn(cols), clue)

      val R = ReferenceRelationshipDetector
      val D = RelationshipDetector
      val strategies: Seq[(String, DataFrame, Seq[Relationship])] = Seq(
        ("exact", R.exactBaseMatch(refCols, cfg), D.exactBaseMatch(cols, cfg)),
        ("suffix", R.suffixTableMatch(refCols, cfg), D.suffixTableMatch(cols, cfg)),
        ("dataVault", R.dataVaultMatch(refCols, cfg), D.dataVaultMatch(cols, cfg)),
        ("enhanced", R.enhancedPkFkMatch(refCols, cfg), D.enhancedPkFkMatch(cols, cfg)),
        ("typeCompat", R.typeCompatMatch(refCols, cfg), D.typeCompatMatch(cols, cfg)),
        ("custom", R.customRuleMatch(refCols, custom), D.customRuleMatch(cols, custom))) ++
        (if (naming.isEmpty) Nil
         else Seq(("naming", R.namingRuleMatch(refCols, naming), D.namingRuleMatch(cols, naming)))) ++
        (if (!cfg.tablePatterns.exists(_.relTargetTables.nonEmpty)) Nil
         else Seq(("tablePattern", R.tablePatternRuleMatch(refCols, cfg), D.tablePatternRuleMatch(cols, cfg))))
      strategies.foreach { case (name, ref, core) => assert(edges(ref) === sorted(core), s"$name, $clue") }
      assert(edges(R.detect(refCols, custom, naming, cfg)) === sorted(D.detect(cols, custom, naming, cfg)),
        s"detect, $clue")
      refCols.unpersist()
    }
  }
}
