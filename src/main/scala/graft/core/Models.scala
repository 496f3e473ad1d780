package graft.core

/** Core data model for the schema-analytics engine.
  *
  * Mirrors the semantics of the reference's pydantic models
  * (reference: bigquery-to-erd/src/bigquery_to_erd/models.py:33-173) but as
  * Scala case classes with Spark `Encoder`s: catalog-scale values (tables,
  * columns, edges) stay plain driver values, and become `Dataset`s where a
  * public method returns a frame.
  */

/** One column of one table (reference ColumnInfo, models.py:33-51).
  *
  * `mode` semantics: REQUIRED -> nullable=false, REPEATED -> isArray=true.
  * REPEATED columns are never key candidates (models.py:48,
  * schema_analyzer.py:178-179).
  */
case class ColumnMeta(
    name: String,
    dataType: String, // canonical lowercase Spark typeName, e.g. "bigint"
    nullable: Boolean,
    isArray: Boolean,
    ordinal: Int)

/** One table of the catalog (reference TableSchema, models.py:54-81). */
case class TableMeta(
    tableName: String,
    path: String,
    tableType: String, // TABLE | VIEW | EXTERNAL
    columns: Seq[ColumnMeta],
    numRows: Long,
    numBytes: Long)

/** Flattened (table, column) row — one catalog column with its table's
  * row count, the input row of key classification.
  */
case class ColumnRef(
    tableName: String,
    columnName: String,
    dataType: String,
    nullable: Boolean,
    isArray: Boolean,
    ordinal: Int,
    numRows: Long)

/** A detected or declared relationship edge
  * (reference Relationship, models.py:84-103).
  */
case class Relationship(
    sourceTable: String,
    sourceColumn: String,
    targetTable: String,
    targetColumn: String,
    relationshipType: String, // one_to_one | one_to_many | many_to_one | many_to_many
    confidence: Double,
    detectionMethod: String,
    isCustom: Boolean)

object RelationshipType {
  val OneToOne = "one_to_one"
  val OneToMany = "one_to_many"
  val ManyToOne = "many_to_one"
  val ManyToMany = "many_to_many"
  val All: Set[String] = Set(OneToOne, OneToMany, ManyToOne, ManyToMany)
}

/** User-declared explicit edge (reference CustomRelationshipRule,
  * models.py:153-160; examples/relationship_rules.json).
  */
case class CustomRule(
    sourceTable: String,
    sourceColumn: String,
    targetTable: String,
    targetColumn: String,
    relationshipType: String = RelationshipType.ManyToOne,
    confidence: Double = 0.9)

/** Regex naming pattern rule (reference NamingPattern, models.py:163-168):
  * a column matching `pattern` (with one capture group) points at table
  * `group(1) + targetSuffix`.
  */
case class NamingRule(pattern: String, targetSuffix: String, confidence: Double = 0.8)

/** Per-table-class naming pattern (reference TablePattern,
  * pattern_config.py:10-17; config/relationship_patterns.json
  * `table_patterns`): tables whose name starts with `prefix` get EXTRA
  * PK/FK column patterns on top of the global indicators
  * (pattern_config.py:187-239), plus a per-class relationship rule
  * (target-table wildcards, type, confidence).
  *
  * The reference parses `relationship_rules` into the dataclass but never
  * reads it afterwards (dead config); here the rule is live — see
  * RelationshipDetector.tablePatternRuleMatch.
  */
case class TablePattern(
    methodology: String, // data_vault | traditional_dw | ...
    name: String, // hub | dimension | link | ...
    prefix: String,
    pkPatterns: Seq[String] = Nil,
    fkPatterns: Seq[String] = Nil,
    relTargetTables: Seq[String] = Nil,
    relType: String = RelationshipType.ManyToOne,
    relConfidence: Double = 0.8)

/** Detection tuning knobs (reference pattern_config.py:10-65 +
  * config/relationship_patterns.json defaults).
  */
case class DetectionConfig(
    minConfidence: Double = 0.5,
    maxRelationshipsPerTable: Int = 3,
    // Regex stripped from a column name to obtain its base name. TPC-H style
    // tables prefix every column with 1-2 letters ("o_", "l_"); warehouse
    // style uses no prefix. Both are handled by one optional-prefix regex.
    prefixStripRegex: String = "^[a-z]{1,2}_(?=.)",
    keySuffixRegex: String = "_?(id|key|fk|pk|hk|hash_key|sk)$",
    pkNameRegex: String = "^(id|key)$|_?(id|key|pk|sk|hash_key|hk)$|key$",
    keyDataTypes: Set[String] = Set("integer", "bigint", "string", "binary"),
    dataTestPassThreshold: Double = 0.7,
    dataTestBoost: Double = 0.2,
    dataTestPenalty: Double = 0.3,
    // W1 filter semantics (relationship_detector.py:763-830 +
    // relationship_patterns.json:254-261): "meaningful" = preferred method OR
    // confidence ≥ 0.5 (the 0.5 is hardcoded in the reference); tables left
    // with < backfillMin meaningful edges are backfilled from the
    // ≥ minConfidence remainder in confidence order.
    preferredMethods: Seq[String] = Seq("enhanced_pk_fk", "data_vault_pattern"),
    backfillMin: Int = 2,
    // Enhanced-cascade strategy 3 (relationship_detector.py:246-257): if no
    // name-directed target exists, take the FIRST other table with a
    // type/mode-compatible likely-PK, still at confidence 0.9. On catalogs
    // where many tables carry `*_id` primary keys this emits one
    // high-confidence edge per unmatched column (the reference inherits the
    // same flood and prunes it later), so the fallback is opt-in.
    enhancedTypeFallback: Boolean = false,
    // Configured PK/FK column indicators (P7) as anchored regexes — usually
    // produced from wildcard lists by ConfigLoader.wildcardToRegex (P6,
    // relationship_patterns.json `column_patterns`). They EXTEND the built-in
    // name heuristics in KeyClassifier; empty lists change nothing.
    pkIndicatorRegexes: Seq[String] = Nil,
    fkIndicatorRegexes: Seq[String] = Nil,
    // Table-type filter (P8, bigquery_connector.py:222-233): VIEW/EXTERNAL
    // tables (declared by a `_tabletypes.json` sidecar next to the parquet
    // files) are skipped unless included — reference defaults.
    includeViews: Boolean = false,
    includeExternal: Boolean = false,
    // Per-table-class patterns (pattern_config.py:10-17, 187-239): extra
    // PK/FK column patterns conditioned on a table-name prefix, plus the
    // per-class relationship rule. Empty = built-in heuristics only.
    tablePatterns: Seq[TablePattern] = Nil,
    // Per-method confidence overrides (relationship_patterns.json
    // `confidence_scoring`). The reference parses this section into
    // PatternConfig but get_confidence_score is never called on the
    // detection path (dead config); here the overrides are live: each
    // strategy takes its confidence via `methodConfidence`, so a JSON
    // override changes plan-time literals. Keys accept BOTH our method
    // names and the reference's scoring-section synonyms.
    confidenceScoring: Map[String, Double] = Map.empty,
    // DataTestingConfig breadth (pattern_config.py:29-38). `enabled` and
    // `sample_size` behave exactly like the reference
    // (enhanced_relationship_detector.py:86, 180). `max_orphan_percentage`
    // and `distribution_similarity_threshold` are parsed by the reference
    // but never consumed (dead config) — the faithful DEFAULTS therefore
    // disable the gates (1.0 / 0.0); loading a JSON that sets them makes
    // them live: data_validated additionally requires
    // orphan% ≤ max and dist_similarity ≥ threshold.
    dataTestEnabled: Boolean = true,
    dataTestSampleSize: Long = 0L, // 0 = test full data (Spark default); >0 caps each endpoint scan
    maxOrphanPercentage: Double = 1.0,
    distributionSimilarityThreshold: Double = 0.0,
    // PerformanceConfig binding (relationship_patterns.json `performance`):
    // thread pools/batching are the cluster's job, but the cache knobs map
    // onto state.IncrementalState's relationship cache: `cache_enabled`
    // gates whether GraftEngine serves/writes it at all, `cache_ttl_hours`
    // bounds entry freshness.
    cacheEnabled: Boolean = true,
    cacheTtlHours: Int = 24) {

  /** Confidence for a detection method: JSON override if present (by our
    * method name or the reference's `confidence_scoring` synonym), else the
    * strategy's built-in literal.
    */
  def methodConfidence(method: String, builtin: Double): Double =
    confidenceScoring.get(method)
      .orElse(DetectionMethod.scoringSynonyms.get(method).flatMap(confidenceScoring.get))
      .getOrElse(builtin)

  /** `performance.cache_ttl_hours` in the milliseconds RelationshipCache
    * speaks (state/IncrementalState.scala).
    */
  def cacheTtlMs: Long = cacheTtlHours.toLong * 3600L * 1000L
}

object DetectionMethod {
  val ExactMatch = "exact_match" // confidence 0.95
  val EnhancedPkFk = "enhanced_pk_fk" // 0.9
  val DataVault = "data_vault_pattern" // 0.9
  val TablePatternRule = "table_pattern" // per-class configured confidence
  val ForeignKey = "foreign_key" // 0.8
  val NamingPattern = "naming_pattern" // 0.6-0.7
  val TypeCompat = "type_compatibility" // 0.4
  val CustomRule = "custom_rule"

  /** Our method name → the reference `confidence_scoring` section's key for
    * the same strategy (relationship_patterns.json:246-253), for JSON
    * overrides written against the reference's vocabulary.
    */
  val scoringSynonyms: Map[String, String] = Map(
    ForeignKey -> "pattern_match",
    NamingPattern -> "naming_convention")

  /** Priority used when the same edge is found by several methods; mirrors the
    * reference's strategy cascade (relationship_detector.py:221-258) but as a
    * rank so it is order-independent in a distributed setting (SURVEY §7.4.3).
    */
  val priority: Map[String, Int] = Map(
    CustomRule -> 0,
    ExactMatch -> 1,
    EnhancedPkFk -> 2,
    DataVault -> 3,
    TablePatternRule -> 4,
    ForeignKey -> 5,
    NamingPattern -> 6,
    TypeCompat -> 7)
}
