package graft.catalog

import java.io.File

import graft.core.{ColumnMeta, TableMeta}
import graft.state.LocalParquet
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.ParquetSchemaBridge
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Catalog source over a directory of parquet tables ("file lake").
  *
  * Re-expresses the reference's catalog scans (S1-S5:
  * bigquery_connector.py:63-240, bq_cli_connector.py:50-243) for a
  * parquet-on-object-store lake: the table list is a directory listing, the
  * schema comes from the parquet FOOTER only (no data pages read — the
  * metadata-only access path the reference gets from the BigQuery API), and
  * numRows/numBytes come from footer row-group metadata.
  *
  * Scale note: footer reads are O(#tables) driver-side metadata operations,
  * not data scans — same cost profile at 100 TB as at 1 GB, and no Spark
  * job. The resulting catalog is a driver-resident `Seq[TableMeta]`; key
  * classification and relationship detection run over it as plain Scala,
  * and data reads take its schema instead of inferring one.
  */
object ParquetCatalog {

  /** S1: enumerate tables in a directory (one `<name>.parquet` file or
    * directory per table), bounded like the reference's MAX_RESULTS
    * (config.py:45).
    */
  def listTables(dir: String, maxResults: Int = 1000): Seq[String] = {
    val entries = new File(dir).listFiles()
    if (entries == null)
      throw new IllegalArgumentException(s"not a readable directory: $dir")
    entries.toSeq
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet"))
      .sorted
      .take(maxResults)
  }

  /** P8: table types from an optional `_tabletypes.json` sidecar in the data
    * directory (`{"name": "VIEW" | "EXTERNAL", ...}`) — the parquet-lake
    * stand-in for the table_type field the reference reads off the BigQuery
    * API (bigquery_connector.py:222-233). Absent sidecar / absent entry →
    * "TABLE".
    */
  def tableTypes(dir: String): Map[String, String] = {
    val f = new File(dir, "_tabletypes.json")
    if (!f.exists()) Map.empty
    else {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(f.toPath)) match {
        case JObject(fields) =>
          fields.collect { case (k, JString(v)) => k -> v.toUpperCase }.toMap
        case _ => Map.empty
      }
    }
  }

  /** S2+S3: schema + stats for one table, footer-only. Memoized on what it
    * reads — the part files' (name, length, mtime) and the table's type — so
    * an in-place rewrite re-reads only the rewritten table's footers.
    * `types` takes the directory's sidecar map so catalog construction
    * parses `_tabletypes.json` once, not once per table.
    */
  def tableMeta(spark: SparkSession, dir: String, name: String,
      types: Map[String, String]): TableMeta = {
    val path = s"$dir/$name.parquet"
    val tableType = types.getOrElse(name, "TABLE")
    val key = ("tableMeta", path, tableType, fileStamps(path), ParquetSchemaBridge.settings(spark))
    memo(spark, key) {
      val (schema, rows) = footers(spark, path)
      TableMeta(name, path, tableType, toColumnMeta(schema), rows,
        partFiles(path).map(_.length).sum)
    }
  }

  def tableMeta(spark: SparkSession, dir: String, name: String): TableMeta =
    tableMeta(spark, dir, name, tableTypes(dir))

  /** Canonical type names: NTZ/LTZ timestamps collapse to "timestamp",
    * decimals lose their precision suffix — key analysis cares about type
    * GROUPS (relationship_detector.py:929-935), not physical variants.
    */
  private def canonType(name: String): String = name match {
    case "long"                         => "bigint"
    case t if t.startsWith("timestamp") => "timestamp"
    case t if t.startsWith("decimal")   => "decimal"
    case t if t.startsWith("varchar") || t == "char" => "string"
    case t => t
  }

  /** Flatten a schema into leaf columns with dotted paths: nested STRUCT
    * fields become `parent.child` entries so key analysis sees them — the
    * nested-fields support the reference lists as a future enhancement
    * (README.md:186; its connector reads only top-level fields,
    * bigquery_connector.py:121-131). A field anywhere under an array keeps
    * isArray=true, preserving the REPEATED-disqualifies-keys rule
    * (schema_analyzer.py:178-179).
    */
  private[graft] def toColumnMeta(schema: StructType): Seq[ColumnMeta] = {
    def leaves(prefix: String, st: StructType, inArray: Boolean): Seq[(String, String, Boolean, Boolean)] =
      st.fields.toSeq.flatMap { f =>
        val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        f.dataType match {
          case nested: StructType => leaves(path, nested, inArray)
          case ArrayType(nested: StructType, _) => leaves(path, nested, inArray = true)
          case ArrayType(et, _) => Seq((path, canonType(et.typeName), f.nullable, true))
          case dt => Seq((path, canonType(dt.typeName), f.nullable, inArray))
        }
      }
    leaves("", schema, inArray = false).zipWithIndex.map {
      case ((name, tpe, nullable, isArray), i) =>
        ColumnMeta(name, tpe, nullable, isArray, i)
    }
  }

  /** A table's parquet part files: the file itself, or a directory's
    * `*.parquet` entries.
    */
  private def partFiles(path: String): Seq[File] = {
    val f = new File(path)
    if (f.isDirectory) f.listFiles().filter(_.getName.endsWith(".parquet")).toSeq.sortBy(_.getName)
    else Seq(f)
  }

  /** (name, length, mtime) of each part file of the table at `path` — the
    * memo key of anything that reads the table.
    */
  private[graft] def fileStamps(path: String): Seq[(String, Long, Long)] =
    partFiles(path).map(f => (f.getName, f.length, f.lastModified))

  /** The table at `path` as `spark.read.parquet(path)` would read it, with
    * the schema taken from the catalog's footer read rather than inferred by
    * a Spark job.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footers(spark, path)._1).parquet(path)

  /** The schema `spark.read.parquet(path).schema` infers, and the row count,
    * from the parquet footers alone; no data pages are read and no Spark job
    * runs. Spark's inference reads the first part file's footer under the
    * session's conf (INT96, `nanosAsLong`, its own row-metadata key) and
    * makes every field nullable; so does this. A directory Spark would list
    * differently (subdirectories such as partitions, summary or other
    * visible files, no part file) takes Spark's own inference.
    */
  private def footers(spark: SparkSession, path: String): (StructType, Long) =
    memo(spark, ("footers", path, fileStamps(path), ParquetSchemaBridge.settings(spark))) {
      val parts = partFiles(path)
      val read = parts.map { part =>
        val reader = ParquetFileReader.open(new LocalInputFile(part.toPath), LocalParquet.readOptions)
        try (reader.getFooter, reader.getRecordCount) finally reader.close()
      }
      // Spark reads just the part files when the directory holds nothing
      // else it lists: no subdirectory, summary file or other visible file.
      def hidden(n: String) = (n.startsWith(".") || n.startsWith("_")) &&
        !n.startsWith("_metadata") && !n.startsWith("_common_metadata")
      val plain = Option(new File(path).listFiles()).toSeq.flatten
        .forall(f => f.isFile && (f.getName.endsWith(".parquet") || hidden(f.getName)))
      val schema =
        if (parts.isEmpty || !plain) spark.read.parquet(path).schema
        else ParquetSchemaBridge.footerSchema(
          new Footer(new Path(parts.head.getPath), read.head._1), spark)
      (schema, read.map(_._2).sum)
    }

  /** S4: all table schemas, driver-resident. VIEW/EXTERNAL tables (per the
    * `_tabletypes.json` sidecar) are excluded unless requested — reference
    * include_views/include_external semantics (bigquery_connector.py:222-233,
    * both default false).
    */
  def tables(
      spark: SparkSession,
      dir: String,
      maxResults: Int = 1000,
      includeViews: Boolean = false,
      includeExternal: Boolean = false): Seq[TableMeta] = {
    val types = tableTypes(dir) // one sidecar parse for the whole catalog
    def kept(name: String): Boolean = types.getOrElse(name, "TABLE") match {
      case "VIEW" => includeViews
      case "EXTERNAL" => includeExternal
      case _ => true
    }
    listTables(dir, maxResults).filter(kept).map(tableMeta(spark, dir, _, types))
  }

  /** What metadata-only results (classified columns, detected edges) read of
    * a catalog: each table's name, type, columns and row count. Paths and
    * byte sizes stay out, so a table restored to an earlier schema meets the
    * results computed for that schema.
    */
  private[graft] def contentKey(tables: Seq[TableMeta]): Seq[Any] =
    tables.map(t => (t.tableName, t.tableType, t.columns, t.numRows))

  private val MemoCapacity = 2048

  // The only memo of catalog-derived state: table metadata and every result
  // derived from it (the reference's S10 in-memory cache tier). Callers key
  // an entry on everything its result reads, so a changed input is a new key
  // and nothing needs invalidating; stale entries age out of the
  // access-ordered LRU. Values are catalog-scale.
  private val memoEntries =
    new java.util.LinkedHashMap[(SparkSession, Any), AnyRef](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, Any), AnyRef]): Boolean =
        size() > MemoCapacity
    }

  /** `build`'s value memoized under (`spark`, `key`); `key` must cover every
    * input the value reads. Never serves a stopped session.
    */
  private[graft] def memo[T <: AnyRef](spark: SparkSession, key: Any)(build: => T): T = {
    val k = (spark, key)
    val hit = memoEntries.synchronized(memoEntries.get(k))
    if (hit != null && !spark.sparkContext.isStopped) hit.asInstanceOf[T]
    else {
      // built outside the lock: builds nest (detect → classify → table
      // metadata → footers) and read files. Two threads may each build one
      // value; derivation is deterministic, so either result serves.
      val built = build
      memoEntries.synchronized {
        memoEntries.keySet.removeIf(_._1.sparkContext.isStopped)
        memoEntries.put(k, built)
      }
      built
    }
  }

  /** Materialize a small frame into a LocalRelation: small results (profile
    * aggregates, per-edge data-test metrics) are a few hundred rows at most,
    * so pinning them local removes re-execution of their derivation from
    * every downstream plan that references them more than once.
    */
  def localized(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }
}
