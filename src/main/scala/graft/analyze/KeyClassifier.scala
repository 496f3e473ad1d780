package graft.analyze

import java.util.Locale
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import graft.core.{ColumnRef, ConfigLoader, DetectionConfig, TableMeta}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One catalog column with its key classification: the unit of
  * relationship detection.
  */
case class KeyColumn(
    tableName: String,
    columnName: String,
    dataType: String,
    nullable: Boolean,
    isArray: Boolean,
    ordinal: Int,
    numRows: Long,
    baseName: String,
    keyStem: String,
    tableBase: String,
    typeGroup: String,
    isPk: Boolean,
    isFk: Boolean)

/** Column-level key classification (SURVEY §2.2 P1-P7).
  *
  * Re-expresses the reference's schema analysis
  * (schema_analyzer.py:42-218: PK/FK candidate predicates, regex pattern
  * sets; pattern_config.py:187-239: configured indicators) as plain Scala
  * over the catalog's columns, on the driver: the catalog is a few hundred
  * columns, so no Spark job is worth its start-up. Regexes keep Spark's
  * semantics (`rlike` is `find`, `regexp_replace` is `replaceAll`), names
  * lower-case under `Locale.ROOT` and lengths count code points, so the
  * result equals the earlier Catalyst-expression version row for row.
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
object KeyClassifier {

  /** Type-compatibility groups (relationship_detector.py:929-935 /
    * data_relationship_tester.py:217-234), keyed by Spark typeName.
    */
  def typeGroup(dataType: String): String = dataType match {
    case "integer" | "bigint" | "smallint" | "tinyint" => "int"
    case "string" | "varchar" | "char" => "string"
    case "double" | "float" | "decimal" => "float"
    case "boolean" => "bool"
    case other => other
  }

  private[graft] def lower(s: String): String = s.toLowerCase(Locale.ROOT)
  private[graft] def codePoints(s: String): Int = s.codePointCount(0, s.length)
  /** Spark's `rlike`: a match anywhere in `s`. */
  private[graft] def rlike(p: Pattern, s: String): Boolean = p.matcher(s).find()
  /** Spark's `regexp_replace(s, p, "")`. */
  private[graft] def strip(p: Pattern, s: String): String = p.matcher(s).replaceAll("")
  private[graft] val TrailingS = Pattern.compile("s$")

  // Warehouse/data-vault table prefixes (h_/dim_/l_/ref_/fact_/bridge_,
  // schema_analyzer.py:328-447) strip off for name comparisons.
  private val TablePrefix = Pattern.compile("^(h_|dim_|l_|ref_|fact_|bridge_|tbl_|table_)")

  /** The catalog's columns, one per (table, leaf column), classified. */
  def classify(tables: Seq[TableMeta], cfg: DetectionConfig): Seq[KeyColumn] = {
    val prefix = Pattern.compile(cfg.prefixStripRegex)
    val suffix = Pattern.compile(cfg.keySuffixRegex)
    // Configured indicators (P6/P7) extend the built-in heuristics and are
    // matched against the LOWERCASED name — the reference lowercases before
    // matching (pattern_config.py:193,229).
    def compile(regexes: Seq[String]) = regexes.map(Pattern.compile)
    val (pkIndicators, fkIndicators) = (compile(cfg.pkIndicatorRegexes), compile(cfg.fkIndicatorRegexes))
    // Per-table-class patterns (pattern_config.py:187-239): a column counts
    // as PK/FK when its table name starts with the class prefix AND the
    // column name matches one of the class's patterns.
    val classes = cfg.tablePatterns.map(tp => (lower(tp.prefix),
      compile(tp.pkPatterns.map(ConfigLoader.wildcardToRegex)),
      compile(tp.fkPatterns.map(ConfigLoader.wildcardToRegex))))
    val refs = tables.flatMap(t => t.columns.map(c =>
      ColumnRef(t.tableName, c.name, c.dataType, c.nullable, c.isArray, c.ordinal, t.numRows)))
    refs.map { c =>
      val name = lower(c.columnName)
      val table = lower(c.tableName)
      val base = strip(prefix, name)
      val stem = strip(suffix, base)
      val tableBase = strip(TablePrefix, table)
      val keyed = cfg.keyDataTypes(c.dataType) && rlike(suffix, base)
      // stem names its own table (order⊑orders, customer⊑dim_customer)
      val stemNamesTable = (codePoints(stem) >= 3 && tableBase.startsWith(stem)) ||
        stem == tableBase || stem == strip(TrailingS, tableBase)
      def hit(ps: Seq[Pattern]) = ps.exists(rlike(_, name))
      def classHit(pick: ((String, Seq[Pattern], Seq[Pattern])) => Seq[Pattern]) =
        classes.exists(k => table.startsWith(k._1) && hit(pick(k)))
      val isPk = !c.isArray && ((keyed && (base == "id" || base == "key" || stemNamesTable)) ||
        hit(pkIndicators) || classHit(_._2))
      // FK: key-suffixed, key-typed, not its own table's PK.
      val isFk = !c.isArray && !isPk && (keyed || hit(fkIndicators) || classHit(_._3))
      KeyColumn(c.tableName, c.columnName, c.dataType, c.nullable, c.isArray, c.ordinal,
        c.numRows, base, stem, tableBase, typeGroup(c.dataType), isPk, isFk)
    }
  }

  /** The columns of a classified frame, in [[KeyColumn]]'s field order. */
  val Schema: StructType = StructType(Seq(
    StructField("tableName", StringType), StructField("columnName", StringType),
    StructField("dataType", StringType), StructField("nullable", BooleanType),
    StructField("isArray", BooleanType), StructField("ordinal", IntegerType),
    StructField("numRows", LongType), StructField("base_name", StringType),
    StructField("key_stem", StringType), StructField("table_base", StringType),
    StructField("type_group", StringType), StructField("is_pk_candidate", BooleanType),
    StructField("is_fk_candidate", BooleanType)))

  /** `cols` as a local frame with [[Schema]]. */
  def frame(spark: SparkSession, cols: Seq[KeyColumn]): DataFrame =
    spark.createDataFrame(cols.map(Row.fromTuple).asJava, Schema)

  /** The rows of a classified frame (a [[frame]], possibly filtered). */
  def collect(cols: DataFrame): Seq[KeyColumn] =
    cols.select(Schema.fieldNames.toSeq.map(cols.col): _*).collect().toSeq.map(r =>
      KeyColumn(r.getString(0), r.getString(1), r.getString(2), r.getBoolean(3),
        r.getBoolean(4), r.getInt(5), r.getLong(6), r.getString(7), r.getString(8),
        r.getString(9), r.getString(10), r.getBoolean(11), r.getBoolean(12)))
}
