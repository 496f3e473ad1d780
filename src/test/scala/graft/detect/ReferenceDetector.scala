package graft.detect

// The DataFrame key classifier and relationship detector as they were before
// both moved to plain Scala on the driver, kept verbatim (bar the object
// names and imports) as the reference the equivalence spec checks the Scala
// core against.

import graft.core.{CustomRule, DetectionConfig, DetectionMethod => M, NamingRule}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column-level key classification (SURVEY §2.2 P1-P7).
  *
  * Re-expresses the reference's schema analysis
  * (schema_analyzer.py:42-218: PK/FK candidate predicates, regex pattern
  * sets; pattern_config.py:187-239: configured indicators) as pure Catalyst
  * `Column` expressions over the exploded column catalog — the whole rule set
  * compiles into boolean expressions, UDF-free, so Catalyst can fold, prune
  * and pipeline it (and it runs identically on a 10-table catalog or a
  * 10,000-table lake).
  *
  * Naming model:
  *   - `base_name`   — column name with an optional 1-2 letter table prefix
  *     stripped (TPC-H style `o_custkey` → `custkey`; warehouse-style names
  *     pass through).
  *   - `key_stem`    — base name with a key suffix (`id|key|fk|pk|hk|sk|
  *     hash_key`) stripped: `custkey` → `cust`, `user_id` → `user`.
  *   - PK candidate  — non-array, key-typed, and its stem names its own
  *     table (`order`⊑`orders`, `cust`⊑`customer`) or the name is exactly
  *     `id`/`key` (schema_analyzer.py:163-189 semantics).
  *   - FK candidate  — non-array, key-typed, key-suffixed, and NOT the
  *     table's own PK (schema_analyzer.py:191-218).
  */
object ReferenceKeyClassifier {

  /** Type-compatibility groups (relationship_detector.py:929-935 /
    * data_relationship_tester.py:217-234), keyed by Spark typeName.
    */
  val typeGroup: Column => Column = dt =>
    when(dt.isin("integer", "bigint", "smallint", "tinyint"), "int")
      .when(dt.isin("string", "varchar", "char"), "string")
      .when(dt.isin("double", "float", "decimal"), "float")
      .when(dt.isin("boolean"), "bool")
      .otherwise(dt)

  /** Annotate a column catalog (ColumnRef-shaped DataFrame) with base_name,
    * key_stem, type_group, is_pk_candidate, is_fk_candidate.
    */
  def classify(cols: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame = {
    val base = regexp_replace(lower(col("columnName")), cfg.prefixStripRegex, "")
    val stem = regexp_replace(base, cfg.keySuffixRegex, "")
    val keyTyped = col("dataType").isin(cfg.keyDataTypes.toSeq: _*)
    val hasKeySuffix = base.rlike(cfg.keySuffixRegex)

    // Warehouse/data-vault table prefixes (h_/dim_/l_/ref_/fact_/bridge_,
    // schema_analyzer.py:328-447) strip off for name comparisons.
    val tableBase =
      regexp_replace(lower(col("tableName")), "^(h_|dim_|l_|ref_|fact_|bridge_|tbl_|table_)", "")

    val withNames = cols
      .withColumn("base_name", base)
      .withColumn("key_stem", stem)
      .withColumn("table_base", tableBase)
      .withColumn("type_group", typeGroup(col("dataType")))

    // PK: stem names its own table (order⊑orders, customer⊑dim_customer)
    // or bare id/key.
    val stemNamesTable =
      (length(col("key_stem")) >= 3 && col("table_base").startsWith(col("key_stem"))) ||
        col("key_stem") === col("table_base") ||
        col("key_stem") === regexp_replace(col("table_base"), "s$", "")
    // Configured indicators (P6/P7): wildcard-derived anchored regexes from
    // ConfigLoader extend the built-in heuristics; empty lists fold to false
    // and leave behavior untouched. Matched against the LOWERCASED name —
    // the reference lowercases before matching (pattern_config.py:193,229),
    // so non-wildcard entries are exact equality on the lowered name.
    def indicatorHit(regexes: Seq[String]): Column =
      regexes.foldLeft(lit(false))((acc, p) => acc || lower(col("columnName")).rlike(p))

    // Per-table-class patterns (pattern_config.py:187-239): a column counts
    // as PK/FK when its table name starts with the class prefix AND the
    // (lowercased) column name matches one of the class's patterns. The
    // whole config compiles to one literal boolean CASE chain per flag.
    def tablePatternHit(sel: graft.core.TablePattern => Seq[String]): Column =
      cfg.tablePatterns.foldLeft(lit(false)) { (acc, tp) =>
        val colHit = sel(tp).foldLeft(lit(false))((a, p) =>
          a || lower(col("columnName")).rlike(graft.core.ConfigLoader.wildcardToRegex(p)))
        acc || (lower(col("tableName")).startsWith(tp.prefix.toLowerCase) && colHit)
      }

    val isPk = !col("isArray") && ((keyTyped && hasKeySuffix &&
      (col("base_name").isin("id", "key") || stemNamesTable)) ||
      indicatorHit(cfg.pkIndicatorRegexes) ||
      tablePatternHit(_.pkPatterns))

    val flagged = withNames.withColumn("is_pk_candidate", isPk)
    // FK: key-suffixed, key-typed, not its own table's PK.
    flagged.withColumn(
      "is_fk_candidate",
      !col("isArray") && !col("is_pk_candidate") &&
        ((keyTyped && hasKeySuffix) || indicatorHit(cfg.fkIndicatorRegexes) ||
          tablePatternHit(_.fkPatterns)))
  }
}

/** Cross-table relationship detection (SURVEY §2.3 J1-J8).
  *
  * The reference detects relationships with five sequential strategies over
  * Python dicts (relationship_detector.py:39-717). Here each strategy is a
  * relational join over the classified column catalog, the union of their
  * outputs is conflict-resolved by a windowed argmax, and the priority
  * cascade becomes a method-priority rank — order-independent and therefore
  * deterministic under any partitioning (SURVEY §7.4.2-3).
  *
  * Scale: the column catalog is tiny relative to data (even a 10k-table lake
  * is ~1M rows), so every join here is broadcast-able; Spark's planner picks
  * BroadcastHashJoin automatically. Nothing in this module touches table
  * DATA — that's datatest's job.
  *
  * Output schema (all strategies):
  *   source_table, source_column, target_table, target_column,
  *   relationship_type, confidence, detection_method, is_custom.
  */
object ReferenceRelationshipDetector {

  private val outCols = Seq(
    "source_table", "source_column", "target_table", "target_column",
    "relationship_type", "confidence", "detection_method", "is_custom")

  /** Strategy 1 — exact base-name match (J1/J2a analog, confidence 0.95):
    * an FK-candidate column joins a PK-candidate column in another table on
    * equal base name + compatible type group: `l_orderkey`(orderkey) →
    * `o_orderkey`(orderkey). Equi-join on (base_name, type_group) — the
    * reference's "group by data type first" trick (relationship_detector
    * .py:444-449) IS this join's hash partitioning.
    */
  def exactBaseMatch(cols: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame = {
    val fk = cols.filter(col("is_fk_candidate"))
      .select(
        col("tableName").as("source_table"), col("columnName").as("source_column"),
        col("base_name"), col("type_group"))
    val pk = cols.filter(col("is_pk_candidate"))
      .select(
        col("tableName").as("target_table"), col("columnName").as("target_column"),
        col("base_name"), col("type_group"))
    fk.join(pk, Seq("base_name", "type_group"))
      .filter(col("source_table") =!= col("target_table"))
      .withColumn("relationship_type", lit("many_to_one"))
      .withColumn("confidence", lit(cfg.methodConfidence(M.ExactMatch, 0.95)))
      .withColumn("detection_method", lit(M.ExactMatch))
      .withColumn("is_custom", lit(false))
      .select(outCols.map(col): _*)
  }

  /** Strategy 2 — FK suffix → table-name resolution (J1/J4, confidence 0.8):
    * strip the key suffix, explode the candidate target-table names
    * ({stem, stem+s, stem+es, stem-minus-s}), equi-join against the table
    * catalog, and take the PK (or best-scored key column) of the hit table
    * (relationship_detector.py:88-120, 535-614).
    */
  def suffixTableMatch(cols: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame = {
    val fk = cols.filter(col("is_fk_candidate") && length(col("key_stem")) >= 2)
      .select(
        col("tableName").as("source_table"), col("columnName").as("source_column"),
        col("key_stem"), col("type_group").as("src_type_group"))
      .withColumn(
        "candidate",
        explode(array_distinct(array(
          col("key_stem"),
          concat(col("key_stem"), lit("s")),
          concat(col("key_stem"), lit("es")),
          regexp_replace(col("key_stem"), "s$", "")))))
    // Best key column per target table: PK first, then id/key-named,
    // REQUIRED breaks ties (J11, relationship_detector.py:583-614).
    val wBest = Window.partitionBy(col("tableName")).orderBy(
      col("is_pk_candidate").desc,
      col("base_name").isin("id", "key").desc,
      (!col("nullable")).desc,
      col("ordinal").asc)
    val targets = cols
      .filter(col("is_pk_candidate") || col("is_fk_candidate"))
      .withColumn("best_rk", row_number().over(wBest))
      .filter(col("best_rk") === 1)
      .select(
        col("table_base").as("candidate"),
        col("tableName").as("target_table"), col("columnName").as("target_column"),
        col("type_group").as("tgt_type_group"))
    fk.join(targets, Seq("candidate"))
      .filter(col("source_table") =!= col("target_table") &&
        col("src_type_group") === col("tgt_type_group"))
      .withColumn("relationship_type", lit("many_to_one"))
      .withColumn("confidence", lit(cfg.methodConfidence(M.ForeignKey, 0.8)))
      .withColumn("detection_method", lit(M.ForeignKey))
      .withColumn("is_custom", lit(false))
      .select(outCols.map(col): _*)
  }

  /** Strategy 3 — data-vault / warehouse prefix patterns (J2, confidence
    * 0.9): a hub/dim/link column whose stem equals another warehouse table's
    * base entity (`customer_hk` in `l_order` → `dim_customer`/`h_customer`),
    * keyed on the `h_/dim_/l_/ref_` prefix vocabulary
    * (schema_analyzer.py:328-447, relationship_detector.py:260-332).
    */
  def dataVaultMatch(cols: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame = {
    val dvTable = col("tableName").rlike("^(h_|dim_|l_|ref_|fact_|bridge_)")
    val fk = cols.filter(col("is_fk_candidate")).filter(dvTable)
      .select(
        col("tableName").as("source_table"), col("columnName").as("source_column"),
        col("key_stem"), col("type_group").as("src_type_group"))
    val pk = cols.filter(col("is_pk_candidate")).filter(dvTable)
      .select(
        col("table_base").as("key_stem"),
        col("tableName").as("target_table"), col("columnName").as("target_column"),
        col("type_group").as("tgt_type_group"))
    fk.join(pk, Seq("key_stem"))
      .filter(col("source_table") =!= col("target_table") &&
        col("src_type_group") === col("tgt_type_group"))
      .withColumn("relationship_type", lit("many_to_one"))
      .withColumn("confidence", lit(cfg.methodConfidence(M.DataVault, 0.9)))
      .withColumn("detection_method", lit(M.DataVault))
      .withColumn("is_custom", lit(false))
      .select(outCols.map(col): _*)
  }

  /** Strategy 3c — per-class table-pattern rules
    * (TablePattern.relationship_rules, relationship_patterns.json
    * `table_patterns.*.patterns.*.relationship_rules`): an FK-candidate
    * column in a table of class C (name starts with C.prefix) whose key
    * stem (or its plural forms) names another table matched by one of C's
    * target wildcards links to that table's best key column, at the class's
    * configured relationship type and confidence.
    *
    * The reference parses these rules into TablePattern but never reads
    * them afterwards (dead config, pattern_config.py:96-106) — here they
    * are live, and only fire when `cfg.tablePatterns` is configured. One
    * candidate-explode + equi-join per configured class over the (tiny)
    * column catalog; all joins broadcast-able.
    */
  def tablePatternRuleMatch(cols: DataFrame, cfg: DetectionConfig): DataFrame = {
    val wBest = Window.partitionBy(col("tableName")).orderBy(
      col("is_pk_candidate").desc,
      col("base_name").isin("id", "key").desc,
      (!col("nullable")).desc,
      col("ordinal").asc)
    val bestKeys = cols
      .filter(col("is_pk_candidate") || col("is_fk_candidate"))
      .withColumn("best_rk", row_number().over(wBest))
      .filter(col("best_rk") === 1)
      .select(
        col("table_base").as("candidate"),
        col("tableName").as("target_table"), col("columnName").as("target_column"),
        col("type_group").as("tgt_type_group"))
    cfg.tablePatterns.filter(_.relTargetTables.nonEmpty).map { tp =>
      val tgtHit = tp.relTargetTables.foldLeft(lit(false))((a, w) =>
        a || lower(col("target_table")).rlike(graft.core.ConfigLoader.wildcardToRegex(w)))
      cols.filter(col("is_fk_candidate") &&
          lower(col("tableName")).startsWith(tp.prefix.toLowerCase) &&
          length(col("key_stem")) >= 2)
        .select(
          col("tableName").as("source_table"), col("columnName").as("source_column"),
          col("key_stem"), col("type_group").as("src_type_group"))
        .withColumn(
          "candidate",
          explode(array_distinct(array(
            col("key_stem"),
            concat(col("key_stem"), lit("s")),
            concat(col("key_stem"), lit("es")),
            regexp_replace(col("key_stem"), "s$", "")))))
        .join(bestKeys, Seq("candidate"))
        .filter(col("source_table") =!= col("target_table") &&
          col("src_type_group") === col("tgt_type_group") && tgtHit)
        .withColumn("relationship_type", lit(tp.relType))
        .withColumn("confidence", lit(tp.relConfidence))
        .withColumn("detection_method", lit(M.TablePatternRule))
        .withColumn("is_custom", lit(false))
        .select(outCols.map(col): _*)
    }.reduce(_ unionByName _)
  }

  /** Strategy 3b — the reference's "enhanced PK-FK" cascade (J2, confidence
    * 0.9, relationship_detector.py:123-332), re-expressed as ranked joins:
    *
    *   1. build per-table likely-PK sets from name patterns
    *      (`^id$ | _id$ | _key$ | _pk$ | ^pk_ | _code$ | _number$`, plus
    *      `<table_base>_id/_key`; tables with NO likely PK fall back to the
    *      common names id/key/pk/code/number/identifier, :188-218) and pick
    *      each table's best PK (explicit candidate first, then a literal
    *      `id`, then ordinal — :583-614);
    *   2. for every column, try target-table names in the reference's exact
    *      attempt order — {stem, stem+s, stem+es, stem-minus-s} × {bare,
    *      h_, dim_, l_, ref_, fact_, tbl_, table_} (:282-338) — via ONE
    *      posexplode + equi-join, position = attempt rank;
    *   3. optionally (cfg.enhancedTypeFallback) the compatibility fallback
    *      (:246-257): the first other table (name order — the reference's
    *      dict-insertion order made deterministic) holding a compatible
    *      likely-PK.
    *
    * Compatibility follows :358-376: equal data type AND equal
    * nullability/mode. The reference's `is_foreign_key` metadata skip has no
    * parquet analog (the flag is never set outside BigQuery schemas), so all
    * non-array columns are candidate sources, exactly like a reference run
    * on schema-only metadata. One edge per source column (the cascade's
    * first hit), labeled `enhanced_pk_fk` at 0.9.
    */
  def enhancedPkFkMatch(cols: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame = {
    val nm = lower(col("columnName"))
    val likelyPk = nm.rlike("(^id$)|(_id$)|(_key$)|(_pk$)|(^pk_)|(_code$)|(_number$)") ||
      col("is_pk_candidate") ||
      nm === concat(col("table_base"), lit("_id")) ||
      nm === concat(col("table_base"), lit("_key"))
    val commonPk = nm.isin("id", "key", "pk", "code", "number", "identifier")
    val wTable = Window.partitionBy("tableName")
    val annotated = cols
      .withColumn("lpk", likelyPk)
      .withColumn("has_lpk", max(col("lpk").cast("int")).over(wTable) === 1)
      .withColumn("pk_member", col("lpk") || (!col("has_lpk") && commonPk))
    val wBest = Window.partitionBy("tableName").orderBy(
      col("is_pk_candidate").desc, (nm === "id").desc, col("ordinal").asc)
    val targets = annotated.filter(col("pk_member") && !col("isArray"))
      .withColumn("rk", row_number().over(wBest)).filter(col("rk") === 1)
      .select(
        lower(col("tableName")).as("candidate"),
        col("tableName").as("target_table"), col("columnName").as("target_column"),
        col("dataType").as("t_dt"), col("nullable").as("t_null"))

    val src = cols.filter(!col("isArray"))
      .select(
        col("tableName").as("source_table"), col("columnName").as("source_column"),
        col("key_stem"), col("dataType").as("s_dt"), col("nullable").as("s_null"))
    val compat = col("s_dt") === col("t_dt") && col("s_null") === col("t_null")

    // strategies 1+2: ordered name attempts, position encodes priority
    val prefixes = Seq("", "h_", "dim_", "l_", "ref_", "fact_", "tbl_", "table_")
    val stems = Seq(
      col("key_stem"),
      concat(col("key_stem"), lit("s")),
      concat(col("key_stem"), lit("es")),
      regexp_replace(col("key_stem"), "s+$", ""))
    val attempts = for (s <- stems; p <- prefixes) yield concat(lit(p), s)
    val nameMatches = src.filter(length(col("key_stem")) >= 2)
      .select(
        col("source_table"), col("source_column"), col("s_dt"), col("s_null"),
        posexplode(array(attempts: _*)).as(Seq("pos", "candidate")))
      .join(targets, Seq("candidate"))
      .filter(compat)
      .drop("candidate")
    // strategy 3 (opt-in): first compatible likely-PK, table-name order
    val all =
      if (!cfg.enhancedTypeFallback) nameMatches
      else nameMatches.unionByName(
        src.join(broadcast(targets.drop("candidate")), compat)
          .withColumn("pos", lit(Int.MaxValue))
          .select(
            col("source_table"), col("source_column"), col("s_dt"), col("s_null"),
            col("pos"), col("target_table"), col("target_column"),
            col("t_dt"), col("t_null")))
    val wFirst = Window.partitionBy("source_table", "source_column")
      .orderBy(col("pos").asc, lower(col("target_table")).asc, col("target_column").asc)
    all.filter(col("source_table") =!= col("target_table"))
      .withColumn("rk", row_number().over(wFirst)).filter(col("rk") === 1)
      .withColumn("relationship_type", lit("many_to_one"))
      .withColumn("confidence", lit(cfg.methodConfidence(M.EnhancedPkFk, 0.9)))
      .withColumn("detection_method", lit(M.EnhancedPkFk))
      .withColumn("is_custom", lit(false))
      .select(outCols.map(col): _*)
  }

  /** Strategy 4 — user naming rules (J7, configured confidence): regex with
    * capture group 1 + target suffix names the target table
    * (relationship_detector.py:677-717).
    */
  def namingRuleMatch(cols: DataFrame, rules: Seq[NamingRule]): DataFrame = {
    // Rules are config known at plan time, so each compiles to literal regex
    // expressions (codegen-friendly, no UDF, no non-literal regexp pattern).
    val candidates = rules
      .map { r =>
        cols.filter(col("is_fk_candidate"))
          .filter(lower(col("columnName")).rlike(r.pattern))
          .withColumn(
            "candidate",
            concat(regexp_extract(lower(col("columnName")), r.pattern, 1), lit(r.targetSuffix)))
          .withColumn("rule_confidence", lit(r.confidence))
      }
      .reduce(_ unionByName _)
      .select(
        col("tableName").as("source_table"), col("columnName").as("source_column"),
        col("candidate"), col("type_group").as("src_type_group"), col("rule_confidence"))
    val pk = cols.filter(col("is_pk_candidate"))
      .select(
        col("tableName").as("candidate"), col("tableName").as("target_table"),
        col("columnName").as("target_column"), col("type_group").as("tgt_type_group"))
    candidates.join(pk, Seq("candidate"))
      .filter(col("source_table") =!= col("target_table") &&
        col("src_type_group") === col("tgt_type_group"))
      .withColumn("relationship_type", lit("many_to_one"))
      .withColumn("confidence", col("rule_confidence"))
      .withColumn("detection_method", lit(M.NamingPattern))
      .withColumn("is_custom", lit(false))
      .select(outCols.map(col): _*)
  }

  /** Strategy 5 — explicit custom rules (J6): user-declared edges validated
    * against the catalog with an inner join to BOTH endpoints
    * (relationship_detector.py:484-533).
    */
  def customRuleMatch(cols: DataFrame, rules: Seq[CustomRule]): DataFrame = {
    val spark = cols.sparkSession
    import spark.implicits._
    val ruleDf = spark.createDataset(rules).toDF()
    val ends = cols.select(col("tableName"), col("columnName"))
    ruleDf
      .join(ends,
        ruleDf("sourceTable") === ends("tableName") &&
          ruleDf("sourceColumn") === ends("columnName"), "left_semi")
      .join(ends,
        ruleDf("targetTable") === ends("tableName") &&
          ruleDf("targetColumn") === ends("columnName"), "left_semi")
      .select(
        col("sourceTable").as("source_table"), col("sourceColumn").as("source_column"),
        col("targetTable").as("target_table"), col("targetColumn").as("target_column"),
        col("relationshipType").as("relationship_type"),
        col("confidence"),
        lit(M.CustomRule).as("detection_method"),
        lit(true).as("is_custom"))
  }

  /** Strategy 6 — type-compatibility fallback (J5, confidence 0.4): same
    * type group, both key-named, ≥1 REQUIRED side, across tables. Kept below
    * min_confidence by default (0.4 < 0.5) exactly as the reference's
    * filtering drops it unless the threshold is lowered.
    */
  def typeCompatMatch(cols: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame = {
    val keyed = cols.filter(col("is_pk_candidate") || col("is_fk_candidate"))
    val a = keyed.select(
      col("tableName").as("source_table"), col("columnName").as("source_column"),
      col("base_name").as("a_base"), col("type_group"), col("nullable").as("a_null"))
    val b = keyed.filter(col("is_pk_candidate")).select(
      col("tableName").as("target_table"), col("columnName").as("target_column"),
      col("base_name").as("b_base"), col("type_group"), col("nullable").as("b_null"))
    a.join(b, Seq("type_group"))
      .filter(col("source_table") =!= col("target_table") &&
        (col("a_base") === col("b_base") || col("a_base") === lit("id") ||
          col("b_base") === lit("id")) &&
        (!col("a_null") || !col("b_null")))
      .withColumn("relationship_type", lit("many_to_many"))
      .withColumn("confidence", lit(cfg.methodConfidence(M.TypeCompat, 0.4)))
      .withColumn("detection_method", lit(M.TypeCompat))
      .withColumn("is_custom", lit(false))
      .select(outCols.map(col): _*)
  }

  /** A6 — conflict resolution: one row per (src,srcCol,tgt,tgtCol), keeping
    * max confidence, custom first on ties (relationship_detector.py:734-761),
    * with method priority as the final deterministic tie-break.
    */
  def resolveConflicts(rels: DataFrame): DataFrame = {
    val methodRank = M.priority.foldLeft(lit(99)) { case (acc, (m, p)) =>
      when(col("detection_method") === m, p).otherwise(acc)
    }
    val w = Window
      .partitionBy("source_table", "source_column", "target_table", "target_column")
      .orderBy(col("confidence").desc, col("is_custom").desc, methodRank.asc)
    rels.withColumn("rk", row_number().over(w)).filter(col("rk") === 1).drop("rk")
  }

  /** W1+W2 — the reference's full filter (relationship_detector.py:763-830),
    * set-oriented and deterministic (SURVEY §7.4.2: Python list order becomes
    * an explicit total order — confidence desc, then name asc):
    *
    *   1. rank edges per source table; keep the top `maxRelationshipsPerTable`
    *      that clear `minConfidence` AND are "meaningful" (preferred detection
    *      method, or confidence ≥ 0.5 — the 0.5 is hardcoded in the
    *      reference at :806-808);
    *   2. backfill tables left with < `backfillMin` meaningful edges from the
    *      ≥ minConfidence remainder, in rank order (:811-816);
    *   3. keep the first edge per (source_table, target_table) pair (:822-828).
    */
  def filterTopK(rels: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame = {
    val order = Seq(
      col("confidence").desc, col("source_column").asc,
      col("target_table").asc, col("target_column").asc)
    val wTable = Window.partitionBy("source_table").orderBy(order: _*)
    val ranked = rels
      .filter(col("confidence") >= cfg.minConfidence)
      .withColumn("rk", row_number().over(wTable))
    val isMeaningful =
      col("detection_method").isin(cfg.preferredMethods: _*) || col("confidence") >= 0.5
    val meaningful = ranked
      .filter(col("rk") <= cfg.maxRelationshipsPerTable && isMeaningful)
    // 2. backfill: tables with < backfillMin meaningful edges take the best
    // remaining threshold-clearing edges until they reach backfillMin.
    val counts = meaningful.groupBy("source_table").agg(count(lit(1)).as("n_kept"))
    val edgeKey = Seq("source_table", "source_column", "target_table", "target_column")
    val remainder = ranked
      .join(meaningful.select(edgeKey.map(col): _*), edgeKey, "left_anti")
      .withColumn("brk",
        row_number().over(Window.partitionBy("source_table").orderBy(order: _*)))
      .join(counts, Seq("source_table"), "left")
      .na.fill(0, Seq("n_kept"))
      .filter(col("n_kept") + col("brk") <= cfg.backfillMin)
      .drop("brk", "n_kept")
    val kept = meaningful.drop("rk").unionByName(remainder.drop("rk"))
    // 3. W2 — first edge per (source, target) pair in the same total order.
    val wPair = Window.partitionBy("source_table", "target_table").orderBy(order: _*)
    kept.withColumn("prk", row_number().over(wPair))
      .filter(col("prk") === 1).drop("prk")
  }

  /** Full pipeline: all strategies ∪ → validate → resolve → threshold+top-k.
    * `cols` must be a KeyClassifier.classify output.
    */
  def detect(
      cols: DataFrame,
      customRules: Seq[CustomRule] = Nil,
      namingRules: Seq[NamingRule] = Nil,
      cfg: DetectionConfig = DetectionConfig()): DataFrame = {
    var all = exactBaseMatch(cols, cfg)
      .unionByName(suffixTableMatch(cols, cfg))
      .unionByName(dataVaultMatch(cols, cfg))
      .unionByName(enhancedPkFkMatch(cols, cfg))
      .unionByName(typeCompatMatch(cols, cfg))
    if (cfg.tablePatterns.exists(_.relTargetTables.nonEmpty))
      all = all.unionByName(tablePatternRuleMatch(cols, cfg))
    if (namingRules.nonEmpty) all = all.unionByName(namingRuleMatch(cols, namingRules))
    if (customRules.nonEmpty) all = all.unionByName(customRuleMatch(cols, customRules))
    filterTopK(resolveConflicts(validate(all, cols)), cfg)
  }

  /** A7 — relationship quality report (enhanced_relationship_detector
    * .py:285-325) as one tidy frame: a row per (dimension, key) with its
    * edge count, plus the total with the average confidence. Bands follow
    * the reference: high ≥ 0.8 > medium ≥ 0.5 > low. Input is the (tiny,
    * post-top-k) edge set, so the three groupings are trivial aggregations;
    * at a huge edge count this becomes one pass with grouping sets.
    */
  def qualityReport(rels: DataFrame): DataFrame = {
    val band = when(col("confidence") >= 0.8, "high_confidence")
      .when(col("confidence") >= 0.5, "medium_confidence")
      .otherwise("low_confidence")
    def dim(name: String, key: org.apache.spark.sql.Column) =
      rels.groupBy(lit(name).as("dimension"), key.as("key"))
        .agg(count(lit(1)).as("n_edges"))
    dim("confidence_distribution", band)
      .unionByName(dim("by_detection_method", col("detection_method")))
      .unionByName(dim("by_relationship_type", col("relationship_type")))
      .unionByName(
        rels.agg(count(lit(1)).as("n_edges")).select(
          lit("total").as("dimension"),
          lit("total_relationships").as("key"), col("n_edges")))
      .unionByName(
        // average confidence ×1000, rounded — keeps the frame single-typed
        // (long) while matching the reference's avg to 3 decimals
        rels.agg(round(avg("confidence") * 1000).cast("long").as("n_edges"))
          .select(lit("total").as("dimension"),
            lit("avg_confidence_x1000").as("key"), col("n_edges")))
  }

  /** J8 — relationship validation: both endpoints must exist in the catalog
    * and their type groups must be compatible (relationship_detector
    * .py:833-941) — two semi-joins against the column catalog.
    */
  def validate(rels: DataFrame, cols: DataFrame): DataFrame = {
    val ends = cols.select(
      col("tableName"), col("columnName"), col("type_group"))
    val src = ends
      .withColumnRenamed("type_group", "src_tg")
    val tgt = ends
      .withColumnRenamed("type_group", "tgt_tg")
    rels
      .join(src,
        rels("source_table") === src("tableName") &&
          rels("source_column") === src("columnName"))
      .drop("tableName", "columnName")
      .join(tgt,
        rels("target_table") === tgt("tableName") &&
          rels("target_column") === tgt("columnName"))
      .filter(col("src_tg") === col("tgt_tg"))
      .select(outCols.map(col): _*)
  }
}
