package graft.detect

import graft.SparkSpec
import graft.analyze.{KeyClassifier, KeyClassifierSpec}
import graft.core.{ColumnRef, CustomRule, DetectionConfig, NamingRule, Relationship}
import org.apache.spark.sql.functions.col

class RelationshipDetectorSpec extends SparkSpec {

  private def keyColumns(rows: Seq[ColumnRef]) =
    KeyClassifier.classify(KeyClassifierSpec.tables(rows), DetectionConfig())

  private def classified(rows: Seq[ColumnRef]) = KeyClassifier.frame(spark, keyColumns(rows))

  private def refs(rows: (String, String, String)*): Seq[ColumnRef] =
    rows.zipWithIndex.map { case ((t, c, dt), i) =>
      ColumnRef(t, c, dt, nullable = true, isArray = false, ordinal = i, numRows = 100L)
    }

  private def edges(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, String)] =
    df.select("source_table", "source_column", "target_table", "target_column")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet

  private def edges(rels: Seq[Relationship]): Set[(String, String, String, String)] =
    rels.map(r => (r.sourceTable, r.sourceColumn, r.targetTable, r.targetColumn)).toSet

  test("end-to-end on sf0.001: the seven TPC-H edges + custom rule") {
    val cols = new graft.GraftEngine(spark, sf0001).classifiedColumns
    val out = RelationshipDetector.detect(
      cols, customRules = Seq(CustomRule("events", "user_id", "customer", "c_custkey")))
    assert(edges(out) === Set(
      ("nation", "n_regionkey", "region", "r_regionkey"),
      ("customer", "c_nationkey", "nation", "n_nationkey"),
      ("supplier", "s_nationkey", "nation", "n_nationkey"),
      ("orders", "o_custkey", "customer", "c_custkey"),
      ("lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("events", "user_id", "customer", "c_custkey")))
  }

  test("data-vault strategy: link column resolves to hub/dim") {
    val cols = classified(refs(
      ("h_customer", "id", "string"),
      ("dim_customer", "customer_id", "string"),
      ("l_order", "customer_hk", "string"),
      ("l_order", "order_id", "string")))
    val out = RelationshipDetector.dataVaultMatch(cols)
    val found = edges(out)
    assert(found.contains(("l_order", "customer_hk", "dim_customer", "customer_id")))
    assert(found.contains(("l_order", "customer_hk", "h_customer", "id")))
  }

  test("enhanced cascade: h_customer/dim_customer fixture emits enhanced_pk_fk at 0.9") {
    // the reference's incremental-processor fixture (test_enhanced_features
    // .py:123-142); expected edge and labeling at :211-220
    val rows = Seq(
      ColumnRef("h_customer", "id", "string", nullable = false, isArray = false, ordinal = 0, numRows = 10),
      ColumnRef("h_customer", "business_key", "string", nullable = false, isArray = false, ordinal = 1, numRows = 10),
      ColumnRef("dim_customer", "customer_id", "string", nullable = false, isArray = false, ordinal = 0, numRows = 10),
      ColumnRef("dim_customer", "name", "string", nullable = true, isArray = false, ordinal = 1, numRows = 10))
    val cols = classified(rows)
    val out = RelationshipDetector
      .enhancedPkFkMatch(cols, DetectionConfig(enhancedTypeFallback = true)).collect()
    val hit = out.find(r =>
      r.getAs[String]("source_table") == "h_customer" &&
        r.getAs[String]("source_column") == "id")
    assert(hit.isDefined, s"fixture edge missing; got ${out.mkString(";")}")
    assert(hit.get.getAs[String]("target_table") === "dim_customer")
    assert(hit.get.getAs[String]("target_column") === "customer_id")
    assert(hit.get.getAs[String]("detection_method") === "enhanced_pk_fk")
    assert(hit.get.getAs[Double]("confidence") === 0.9)
    assert(hit.get.getAs[String]("relationship_type") === "many_to_one")
    // the NULLABLE data column is never matched (mode compatibility gate)
    assert(!out.exists(_.getAs[String]("source_column") == "name"))
    // the name-directed leg (h_ prefix retry) works without the fallback
    val noFallback = edges(RelationshipDetector.enhancedPkFkMatch(cols))
    assert(noFallback.contains(("dim_customer", "customer_id", "h_customer", "id")))
  }

  test("table-pattern rules: class prefix + target wildcard emit configured type/confidence") {
    import graft.core.TablePattern
    val cols = keyColumns(refs(
      ("fact_sales", "customer_id", "bigint"), // FK in the fact_ class
      ("stage_sales", "customer_id", "bigint"), // FK, but wrong prefix
      ("dim_customer", "customer_id", "bigint"), // target PK; dim_* matches
      ("part_lookup", "part_id", "bigint"))) // would-be target outside dim_*
    val cfg = DetectionConfig(tablePatterns = Seq(TablePattern(
      "traditional_dw", "fact", "fact_",
      relTargetTables = Seq("dim_*"), relType = "many_to_one", relConfidence = 0.85)))
    assert(RelationshipDetector.tablePatternRuleMatch(cols, cfg) === Seq(Relationship(
      "fact_sales", "customer_id", "dim_customer", "customer_id", "many_to_one", 0.85,
      "table_pattern", isCustom = false)))
    // detect() only unions the strategy when a pattern carries rule targets.
    // At 0.85 the table_pattern edge loses conflict resolution to the 0.95
    // exact_match edge for the same pair (resolution keeps max confidence) —
    // so raise the rule confidence above exact_match to see it survive.
    val strongCfg = DetectionConfig(tablePatterns = Seq(TablePattern(
      "traditional_dw", "fact", "fact_",
      relTargetTables = Seq("dim_*"), relType = "many_to_one", relConfidence = 0.97)))
    def detect(c: DetectionConfig) = RelationshipDetector.detect(cols, Nil, Nil, c)
    val survived = detect(strongCfg).filter(_.detectionMethod == "table_pattern")
    assert(survived.map(_.confidence) === Seq(0.97))
    // ...and at 0.85 resolution correctly prefers exact_match for that pair
    val resolved = detect(cfg)
      .filter(r => r.sourceTable == "fact_sales" && r.sourceColumn == "customer_id")
    assert(resolved.map(_.detectionMethod).toSet === Set("exact_match"))
    assert(!detect(DetectionConfig()).exists(_.detectionMethod == "table_pattern"))
  }

  test("confidence_scoring overrides change plan literals and resolve order") {
    // customer.customer_id is the PK; orders.customer_id is found by BOTH
    // exact_match (same base name) and foreign_key (stem names the table).
    val cols = classified(refs(
      ("customer", "customer_id", "bigint"),
      ("orders", "customer_id", "bigint"),
      ("orders", "order_id", "bigint")))
    val byDefault = RelationshipDetector.detect(cols)
      .filter(col("source_table") === "orders" && col("source_column") === "customer_id")
      .collect().head
    assert(byDefault.getAs[String]("detection_method") === "exact_match")
    assert(byDefault.getAs[Double]("confidence") === 0.95)
    // Override via the reference's confidence_scoring vocabulary: demote
    // exact_match, promote pattern_match (= our foreign_key strategy); the
    // same edge now resolves to the foreign_key finding.
    val cfg = DetectionConfig(confidenceScoring =
      Map("exact_match" -> 0.5, "pattern_match" -> 0.99))
    val overridden = RelationshipDetector.detect(cols, cfg = cfg)
      .filter(col("source_table") === "orders" && col("source_column") === "customer_id")
      .collect().head
    assert(overridden.getAs[String]("detection_method") === "foreign_key")
    assert(overridden.getAs[Double]("confidence") === 0.99)
  }

  test("naming rule: (.+)_id with suffix s resolves orders.customer_id") {
    val cols = keyColumns(refs(
      ("customers", "customer_id", "bigint"), // customers PK
      ("orders", "customer_id", "bigint"),
      ("orders", "order_id", "bigint")))
    val out = RelationshipDetector.namingRuleMatch(
      cols, Seq(NamingRule("^(.+)_id$", "s", 0.8)))
    assert(edges(out).contains(("orders", "customer_id", "customers", "customer_id")))
  }

  test("conflict resolution keeps max confidence, custom wins ties") {
    import spark.implicits._
    val rels = Seq(
      ("a", "x", "b", "y", "many_to_one", 0.8, "foreign_key", false),
      ("a", "x", "b", "y", "many_to_one", 0.95, "exact_match", false),
      ("a", "x", "b", "y", "many_to_one", 0.95, "custom_rule", true))
      .toDF("source_table", "source_column", "target_table", "target_column",
        "relationship_type", "confidence", "detection_method", "is_custom")
    val out = RelationshipDetector.resolveConflicts(rels).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("detection_method") === "custom_rule")
  }

  test("top-k caps relationships per source table and applies threshold") {
    import spark.implicits._
    val rels = (1 to 5).map(i =>
      ("src", s"c$i", s"t$i", "id", "many_to_one", 0.5 + i * 0.05, "exact_match", false))
      .toDF("source_table", "source_column", "target_table", "target_column",
        "relationship_type", "confidence", "detection_method", "is_custom")
    val out = RelationshipDetector.filterTopK(rels, DetectionConfig(maxRelationshipsPerTable = 3))
    assert(out.count() === 3)
    assert(out.agg(org.apache.spark.sql.functions.min("confidence")).head.getDouble(0) >= 0.6)
  }

  test("filter backfills to 2 medium-confidence edges and dedups pairs") {
    import spark.implicits._
    // tbl has one meaningful edge (0.9) and two medium ones (0.45, 0.4,
    // below the hardcoded 0.5 "meaningful" bar but above the 0.3 floor):
    // backfill must take exactly the better medium edge to reach 2 kept.
    val rels = Seq(
      ("tbl", "a_id", "ta", "id", "many_to_one", 0.9, "exact_match", false),
      ("tbl", "b_id", "tb", "id", "many_to_one", 0.45, "type_compatibility", false),
      ("tbl", "c_id", "tc", "id", "many_to_one", 0.40, "type_compatibility", false),
      // same (source, target) pair twice: W2 keeps the higher-confidence one
      ("dup", "x_id", "td", "id", "many_to_one", 0.8, "exact_match", false),
      ("dup", "y_id", "td", "id", "many_to_one", 0.7, "exact_match", false))
      .toDF("source_table", "source_column", "target_table", "target_column",
        "relationship_type", "confidence", "detection_method", "is_custom")
    val out = RelationshipDetector
      .filterTopK(rels, DetectionConfig(minConfidence = 0.3)).collect()
    val tbl = out.filter(_.getString(0) == "tbl").map(r => (r.getString(1), r.getDouble(5)))
    assert(tbl.toSet === Set(("a_id", 0.9), ("b_id", 0.45)))
    val dup = out.filter(_.getString(0) == "dup")
    assert(dup.length === 1 && dup.head.getString(1) === "x_id")
  }

  test("validation drops edges with incompatible endpoint types") {
    import spark.implicits._
    val cols = classified(refs(("a", "b_id", "string"), ("b", "b_id", "bigint")))
    val rels = Seq(("a", "b_id", "b", "b_id", "many_to_one", 0.9, "exact_match", false))
      .toDF("source_table", "source_column", "target_table", "target_column",
        "relationship_type", "confidence", "detection_method", "is_custom")
    assert(RelationshipDetector.validate(rels, cols).count() === 0)
  }
}
