package graft.detect

import java.util.regex.Pattern

import scala.math.Ordering.Double.TotalOrdering

import graft.analyze.{KeyClassifier, KeyColumn}
import graft.analyze.KeyClassifier.{codePoints, lower, rlike, strip, TrailingS}
import graft.core.{ConfigLoader, CustomRule, DetectionConfig, NamingRule, Relationship}
import graft.core.{DetectionMethod => M}
import graft.state.RelationshipCache
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-table relationship detection (SURVEY §2.3 J1-J8).
  *
  * The reference detects relationships with five sequential strategies over
  * Python dicts (relationship_detector.py:39-717). Here each strategy is a
  * hash join over the classified columns, the union of their outputs is
  * conflict-resolved by an argmax per edge, and the priority cascade becomes
  * a method-priority rank — order-independent and therefore deterministic
  * (SURVEY §7.4.2-3).
  *
  * Scale: the input is the catalog's columns (a few hundred; a 1000-table
  * lake is tens of thousands), so detection runs as plain Scala on the
  * driver and starts no Spark job. Nothing in this module touches table
  * DATA — that's datatest's job. The DataFrame methods are thin wrappers
  * for callers holding frames: they collect the classified columns, run the
  * Scala core and return a local frame.
  *
  * Output (all strategies): [[Relationship]]s; as a frame,
  * [[graft.state.RelationshipCache.EdgeSchema]]: source_table,
  * source_column, target_table, target_column, relationship_type,
  * confidence, detection_method, is_custom.
  */
object RelationshipDetector {

  private def edge(src: KeyColumn, tgt: KeyColumn, tpe: String, conf: Double, method: String) =
    Relationship(src.tableName, src.columnName, tgt.tableName, tgt.columnName, tpe, conf, method,
      isCustom = false)

  private def lift(cols: DataFrame)(f: Seq[KeyColumn] => Seq[Relationship]): DataFrame =
    RelationshipCache.edgeFrame(cols.sparkSession, f(KeyClassifier.collect(cols)))

  private def liftEdges(rels: DataFrame)(f: Seq[Relationship] => Seq[Relationship]): DataFrame =
    RelationshipCache.edgeFrame(rels.sparkSession, f(RelationshipCache.collectEdges(rels)))

  /** Strategy 1 — exact base-name match (J1/J2a analog, confidence 0.95):
    * an FK-candidate column joins a PK-candidate column in another table on
    * equal base name + compatible type group: `l_orderkey`(orderkey) →
    * `o_orderkey`(orderkey). The reference's "group by data type first"
    * trick (relationship_detector.py:444-449) IS this join's hash key.
    */
  def exactBaseMatch(cols: Seq[KeyColumn], cfg: DetectionConfig): Seq[Relationship] = {
    val pks = cols.filter(_.isPk).groupBy(c => (c.baseName, c.typeGroup))
    val conf = cfg.methodConfidence(M.ExactMatch, 0.95)
    for {
      fk <- cols if fk.isFk
      pk <- pks.getOrElse((fk.baseName, fk.typeGroup), Nil) if fk.tableName != pk.tableName
    } yield edge(fk, pk, "many_to_one", conf, M.ExactMatch)
  }

  /** Each table's best key column by table base name: PK first, then
    * id/key-named, REQUIRED breaks ties (J11, relationship_detector.py:583-614).
    */
  private def bestKeys(cols: Seq[KeyColumn]): Map[String, Seq[KeyColumn]] =
    cols.filter(c => c.isPk || c.isFk).groupBy(_.tableName).values
      .map(_.minBy(c => (!c.isPk, !(c.baseName == "id" || c.baseName == "key"), c.nullable, c.ordinal)))
      .toSeq.groupBy(_.tableBase)

  /** FK candidates with a key stem of ≥ 2 characters matched to the target
    * whose table base is one of the stem's name forms ({stem, stem+s,
    * stem+es, stem-minus-s}), same type group, in another table.
    */
  private def stemMatches(fks: Seq[KeyColumn], targets: Map[String, Seq[KeyColumn]]) =
    for {
      fk <- fks if fk.isFk && codePoints(fk.keyStem) >= 2
      name <- Seq(fk.keyStem, fk.keyStem + "s", fk.keyStem + "es", strip(TrailingS, fk.keyStem)).distinct
      t <- targets.getOrElse(name, Nil) if fk.tableName != t.tableName && fk.typeGroup == t.typeGroup
    } yield (fk, t)

  /** Strategy 2 — FK suffix → table-name resolution (J1/J4, confidence 0.8):
    * strip the key suffix, try the candidate target-table names and take
    * the best key column of the hit table (relationship_detector.py:88-120,
    * 535-614).
    */
  def suffixTableMatch(cols: Seq[KeyColumn], cfg: DetectionConfig): Seq[Relationship] = {
    val conf = cfg.methodConfidence(M.ForeignKey, 0.8)
    stemMatches(cols, bestKeys(cols))
      .map { case (fk, t) => edge(fk, t, "many_to_one", conf, M.ForeignKey) }
  }

  private val DvTable = Pattern.compile("^(h_|dim_|l_|ref_|fact_|bridge_)")

  /** Strategy 3 — data-vault / warehouse prefix patterns (J2, confidence
    * 0.9): a hub/dim/link column whose stem equals another warehouse table's
    * base entity (`customer_hk` in `l_order` → `dim_customer`/`h_customer`),
    * keyed on the `h_/dim_/l_/ref_` prefix vocabulary
    * (schema_analyzer.py:328-447, relationship_detector.py:260-332).
    */
  def dataVaultMatch(cols: Seq[KeyColumn], cfg: DetectionConfig): Seq[Relationship] = {
    val dv = cols.filter(c => rlike(DvTable, c.tableName))
    val pks = dv.filter(_.isPk).groupBy(_.tableBase)
    val conf = cfg.methodConfidence(M.DataVault, 0.9)
    for {
      fk <- dv if fk.isFk
      pk <- pks.getOrElse(fk.keyStem, Nil)
      if fk.tableName != pk.tableName && fk.typeGroup == pk.typeGroup
    } yield edge(fk, pk, "many_to_one", conf, M.DataVault)
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
    * are live, and only fire when `cfg.tablePatterns` is configured.
    */
  def tablePatternRuleMatch(cols: Seq[KeyColumn], cfg: DetectionConfig): Seq[Relationship] = {
    lazy val targets = bestKeys(cols)
    cfg.tablePatterns.filter(_.relTargetTables.nonEmpty).flatMap { tp =>
      val hits = tp.relTargetTables.map(w => Pattern.compile(ConfigLoader.wildcardToRegex(w)))
      stemMatches(cols.filter(c => lower(c.tableName).startsWith(lower(tp.prefix))), targets)
        .collect { case (fk, t) if hits.exists(rlike(_, lower(t.tableName))) =>
          edge(fk, t, tp.relType, tp.relConfidence, M.TablePatternRule)
        }
    }
  }

  private val LikelyPk = Pattern.compile("(^id$)|(_id$)|(_key$)|(_pk$)|(^pk_)|(_code$)|(_number$)")
  private val CommonPk = Set("id", "key", "pk", "code", "number", "identifier")
  private val TableNamePrefixes = Seq("", "h_", "dim_", "l_", "ref_", "fact_", "tbl_", "table_")
  private val TrailingSs = Pattern.compile("s+$")

  /** Strategy 3b — the reference's "enhanced PK-FK" cascade (J2, confidence
    * 0.9, relationship_detector.py:123-332):
    *
    *   1. build per-table likely-PK sets from name patterns
    *      (`^id$ | _id$ | _key$ | _pk$ | ^pk_ | _code$ | _number$`, plus
    *      `<table_base>_id/_key`; tables with NO likely PK fall back to the
    *      common names id/key/pk/code/number/identifier, :188-218) and pick
    *      each table's best PK (explicit candidate first, then a literal
    *      `id`, then ordinal — :583-614);
    *   2. for every column, try target-table names in the reference's exact
    *      attempt order — {stem, stem+s, stem+es, stem-minus-s} × {bare,
    *      h_, dim_, l_, ref_, fact_, tbl_, table_} (:282-338); the attempt's
    *      position is its priority;
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
  def enhancedPkFkMatch(cols: Seq[KeyColumn], cfg: DetectionConfig): Seq[Relationship] = {
    val targets = cols.groupBy(_.tableName).values.flatMap { table =>
      def likely(c: KeyColumn) = {
        val nm = lower(c.columnName)
        rlike(LikelyPk, nm) || c.isPk || nm == c.tableBase + "_id" || nm == c.tableBase + "_key"
      }
      val hasLikely = table.exists(likely)
      table.filter(c => !c.isArray && (likely(c) || (!hasLikely && CommonPk(lower(c.columnName)))))
        .minByOption(c => (!c.isPk, lower(c.columnName) != "id", c.ordinal))
    }.toSeq
    val byName = targets.groupBy(t => lower(t.tableName))
    val conf = cfg.methodConfidence(M.EnhancedPkFk, 0.9)
    cols.filter(!_.isArray).flatMap { s =>
      val stem = s.keyStem
      val attempts =
        if (codePoints(stem) < 2) Nil
        else for {
          n <- Seq(stem, stem + "s", stem + "es", strip(TrailingSs, stem))
          p <- TableNamePrefixes
        } yield p + n
      val named = attempts.zipWithIndex
        .flatMap { case (a, pos) => byName.getOrElse(a, Nil).map(pos -> _) }
      val fallback = if (cfg.enhancedTypeFallback) targets.map(Int.MaxValue -> _) else Nil
      (named ++ fallback)
        .filter { case (_, t) =>
          t.tableName != s.tableName && t.dataType == s.dataType && t.nullable == s.nullable }
        .minByOption { case (pos, t) => (pos, lower(t.tableName), t.columnName, t.tableName) }
        .map { case (_, t) => edge(s, t, "many_to_one", conf, M.EnhancedPkFk) }
    }
  }

  /** Strategy 4 — user naming rules (J7, configured confidence): regex with
    * capture group 1 + target suffix names the target table
    * (relationship_detector.py:677-717).
    */
  def namingRuleMatch(cols: Seq[KeyColumn], rules: Seq[NamingRule]): Seq[Relationship] = {
    val pks = cols.filter(_.isPk).groupBy(_.tableName)
    rules.flatMap { r =>
      val p = Pattern.compile(r.pattern)
      for {
        fk <- cols if fk.isFk
        m = p.matcher(lower(fk.columnName)) if m.find()
        t <- pks.getOrElse(Option(m.group(1)).getOrElse("") + r.targetSuffix, Nil)
        if fk.tableName != t.tableName && fk.typeGroup == t.typeGroup
      } yield edge(fk, t, "many_to_one", r.confidence, M.NamingPattern)
    }
  }

  /** Strategy 5 — explicit custom rules (J6): user-declared edges kept when
    * BOTH endpoints exist in the catalog (relationship_detector.py:484-533).
    */
  def customRuleMatch(cols: Seq[KeyColumn], rules: Seq[CustomRule]): Seq[Relationship] = {
    val ends = cols.map(c => (c.tableName, c.columnName)).toSet
    rules.filter(r => ends((r.sourceTable, r.sourceColumn)) && ends((r.targetTable, r.targetColumn)))
      .map(r => Relationship(r.sourceTable, r.sourceColumn, r.targetTable, r.targetColumn,
        r.relationshipType, r.confidence, M.CustomRule, isCustom = true))
  }

  /** Strategy 6 — type-compatibility fallback (J5, confidence 0.4): same
    * type group, both key-named, ≥1 REQUIRED side, across tables. Kept below
    * min_confidence by default (0.4 < 0.5) exactly as the reference's
    * filtering drops it unless the threshold is lowered.
    */
  def typeCompatMatch(cols: Seq[KeyColumn], cfg: DetectionConfig): Seq[Relationship] = {
    val keyed = cols.filter(c => c.isPk || c.isFk)
    val pks = keyed.filter(_.isPk).groupBy(_.typeGroup)
    val conf = cfg.methodConfidence(M.TypeCompat, 0.4)
    for {
      a <- keyed
      b <- pks.getOrElse(a.typeGroup, Nil)
      if a.tableName != b.tableName &&
        (a.baseName == b.baseName || a.baseName == "id" || b.baseName == "id") &&
        (!a.nullable || !b.nullable)
    } yield edge(a, b, "many_to_many", conf, M.TypeCompat)
  }

  /** J8 — relationship validation: both endpoints must exist in the catalog
    * and their type groups must be compatible (relationship_detector
    * .py:833-941). An edge is kept once per matching endpoint pair, as the
    * inner joins this replaces kept it.
    */
  def validate(rels: Seq[Relationship], cols: Seq[KeyColumn]): Seq[Relationship] = {
    val groups = cols.groupMap(c => (c.tableName, c.columnName))(_.typeGroup)
    for {
      r <- rels
      s <- groups.getOrElse((r.sourceTable, r.sourceColumn), Nil)
      t <- groups.getOrElse((r.targetTable, r.targetColumn), Nil) if s == t
    } yield r
  }

  /** A6 — conflict resolution: one edge per (src,srcCol,tgt,tgtCol), keeping
    * max confidence, custom first on ties (relationship_detector.py:734-761),
    * with method priority as the final tie-break.
    */
  def resolveConflicts(rels: Seq[Relationship]): Seq[Relationship] =
    rels.groupBy(r => (r.sourceTable, r.sourceColumn, r.targetTable, r.targetColumn)).values
      .map(_.minBy(r => (-r.confidence, !r.isCustom, M.priority.getOrElse(r.detectionMethod, 99),
        r.relationshipType)))
      .toSeq

  /** W1+W2 — the reference's full filter (relationship_detector.py:763-830),
    * deterministic (SURVEY §7.4.2: Python list order becomes an explicit
    * total order — confidence desc, then name asc):
    *
    *   1. rank edges per source table; keep the top `maxRelationshipsPerTable`
    *      that clear `minConfidence` AND are "meaningful" (preferred detection
    *      method, or confidence ≥ 0.5 — the 0.5 is hardcoded in the
    *      reference at :806-808);
    *   2. backfill tables left with < `backfillMin` meaningful edges from the
    *      ≥ minConfidence remainder, in rank order (:811-816);
    *   3. keep the first edge per (source_table, target_table) pair (:822-828).
    *
    * Edges come out sorted by endpoints.
    */
  def filterTopK(rels: Seq[Relationship], cfg: DetectionConfig): Seq[Relationship] = {
    val rank = (r: Relationship) => (-r.confidence, r.sourceColumn, r.targetTable, r.targetColumn)
    val key = (r: Relationship) => (r.sourceColumn, r.targetTable, r.targetColumn)
    val bySource = rels.filter(_.confidence >= cfg.minConfidence).groupBy(_.sourceTable).values
    val kept = bySource.flatMap { table =>
      val ranked = table.sortBy(rank)
      val meaningful = ranked.take(cfg.maxRelationshipsPerTable)
        .filter(r => cfg.preferredMethods.contains(r.detectionMethod) || r.confidence >= 0.5)
      val taken = meaningful.map(key).toSet
      meaningful ++ ranked.filterNot(r => taken(key(r))).take(cfg.backfillMin - meaningful.size)
    }
    kept.groupBy(r => (r.sourceTable, r.targetTable)).values.map(_.minBy(rank)).toSeq
      .sortBy(r => (r.sourceTable, r.sourceColumn, r.targetTable, r.targetColumn))
  }

  /** Full pipeline: all strategies ∪ → validate → resolve → threshold+top-k. */
  def detect(
      cols: Seq[KeyColumn],
      customRules: Seq[CustomRule],
      namingRules: Seq[NamingRule],
      cfg: DetectionConfig): Seq[Relationship] = {
    val all = exactBaseMatch(cols, cfg) ++ suffixTableMatch(cols, cfg) ++
      dataVaultMatch(cols, cfg) ++ enhancedPkFkMatch(cols, cfg) ++ typeCompatMatch(cols, cfg) ++
      tablePatternRuleMatch(cols, cfg) ++ namingRuleMatch(cols, namingRules) ++
      customRuleMatch(cols, customRules)
    filterTopK(resolveConflicts(validate(all, cols)), cfg)
  }

  // Frame wrappers: `cols` must be a KeyClassifier.frame output. `detect`
  // serves q15; the rest serve perfbench's candidate check
  // (ColdPipeline.candidates).
  def exactBaseMatch(cols: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame =
    lift(cols)(exactBaseMatch(_, cfg))
  def suffixTableMatch(cols: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame =
    lift(cols)(suffixTableMatch(_, cfg))
  def dataVaultMatch(cols: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame =
    lift(cols)(dataVaultMatch(_, cfg))
  def enhancedPkFkMatch(cols: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame =
    lift(cols)(enhancedPkFkMatch(_, cfg))
  def typeCompatMatch(cols: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame =
    lift(cols)(typeCompatMatch(_, cfg))
  def validate(rels: DataFrame, cols: DataFrame): DataFrame =
    liftEdges(rels)(validate(_, KeyClassifier.collect(cols)))
  def resolveConflicts(rels: DataFrame): DataFrame = liftEdges(rels)(resolveConflicts)
  def filterTopK(rels: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame =
    liftEdges(rels)(filterTopK(_, cfg))
  def detect(
      cols: DataFrame,
      customRules: Seq[CustomRule] = Nil,
      namingRules: Seq[NamingRule] = Nil,
      cfg: DetectionConfig = DetectionConfig()): DataFrame =
    lift(cols)(detect(_, customRules, namingRules, cfg))

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
}
