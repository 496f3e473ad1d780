package graft.state

import graft.core.{Relationship, TableMeta}
import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** One table's incremental-state entry: the schema checksum it was
  * processed at, and when. A Spark-written state file may hold null names
  * or hashes; such an entry never matches a table.
  */
case class StateEntry(tableName: String, schemaHash: String, processedAtMs: Long)

/** Incremental-processing state + relationship cache (SURVEY §2.8/S9/S10,
  * §4) — the reference's IncrementalProcessor (incremental_processor
  * .py:31-136) and RelationshipCache (relationship_cache.py:36-114) as
  * keyed parquet tables with last-writer-wins upserts (SURVEY §7.4.5)
  * instead of mutable JSON files. Both are catalog-scale (one row per table
  * or per edge), so a refresh carries them as plain values that
  * [[LocalParquet]] reads and writes on the driver, and runs no Spark job.
  */
object IncrementalState {

  /** F5 — canonical schema string for one table: columns in schema order as
    * `name:type:req|opt`, prefixed by the table name. Stable across runs and
    * engines; its md5 is the change-detection checksum
    * (incremental_processor.py:79-100).
    */
  def canonicalSchema(t: TableMeta): String =
    t.tableName + "|" + t.columns
      .sortBy(_.ordinal)
      .map { c =>
        val tpe = if (c.isArray) s"array<${c.dataType}>" else c.dataType
        s"${c.name}:$tpe:${if (c.nullable) "opt" else "req"}"
      }
      .mkString(",")

  /** The catalog's current checksums, stamped `nowMs`. The hash is the md5
    * hex Spark's `md5` gives, so saved states stay comparable whichever
    * side computed them.
    */
  def checksums(tables: Seq[TableMeta], nowMs: Long): Seq[StateEntry] =
    tables.map(t => StateEntry(t.tableName, DigestUtils.md5Hex(canonicalSchema(t)), nowMs))

  /** `entries` as a local (table_name, schema_hash) frame. */
  def checksumFrame(spark: SparkSession, entries: Seq[StateEntry]): DataFrame =
    spark.createDataFrame(entries.map(e => (e.tableName, e.schemaHash)))
      .toDF("table_name", "schema_hash")

  /** The state saved at `statePath`; empty when none is. */
  def load(statePath: String): Seq[StateEntry] =
    LocalParquet.read(statePath, required = Seq("processed_at_ms")).map(r => StateEntry(
      r.getAs("table_name"), r.getAs("schema_hash"), r.getAs[Long]("processed_at_ms")))

  /** Changed-or-new tables: current entries whose (table_name, schema_hash)
    * the state does not hold — the incremental gate
    * (incremental_processor.py:116-136).
    */
  def changed(current: Seq[StateEntry], state: Seq[StateEntry]): Seq[StateEntry] = {
    val seen = state.map(e => (e.tableName, e.schemaHash)).toSet
    current.filterNot(e => seen((e.tableName, e.schemaHash)))
  }

  /** Upsert processed tables into state: the newest entry per table wins,
    * the current one on a tie. Rewritten as one file; at a scale where the
    * state outgrows the driver this would be a Delta upsert.
    */
  def save(statePath: String, current: Seq[StateEntry], prior: Seq[StateEntry]): Unit =
    LocalParquet.write(statePath, StateSchema,
      (current ++ prior).sortBy(_.processedAtMs)(Ordering[Long].reverse).distinctBy(_.tableName)
        .map(Row.fromTuple))

  // StateEntry's fields, in order.
  private val StateSchema = StructType(Seq(
    StructField("table_name", StringType), StructField("schema_hash", StringType),
    StructField("processed_at_ms", LongType)))

  /** A8 — stats over the incremental state + relationship graph
    * (incremental_processor.py:182-204's `get_relationship_stats`) as one
    * row's (column, value) pairs: processed-table count, last-processed
    * watermark (null with no state), total relationships, and the per-type
    * breakdown as a sorted `type:count` list (the reference returns a dict).
    */
  def relationshipStats(
      state: Seq[StateEntry], relationships: Seq[Relationship]): Seq[(String, Any)] = {
    val types = relationships.groupBy(_.relationshipType).map { case (t, rs) => s"$t:${rs.size}" }
    Seq(
      "processed_tables" -> state.size.toLong,
      "last_processed_at_ms" -> state.map(_.processedAtMs).maxOption.map(Long.box).orNull,
      "total_relationships" -> relationships.size.toLong,
      "n_relationship_types" -> types.size.toLong,
      "relationship_types" -> types.toSeq.sorted.mkString(","))
  }

  /** Stats (column, long or string value) pairs as a local one-row frame. */
  def statsFrame(spark: SparkSession, columns: (String, Any)*): DataFrame =
    spark.createDataFrame(Seq(Row.fromSeq(columns.map(_._2))).asJava, StructType(columns.map {
      case (name, _: String) => StructField(name, StringType)
      case (name, _)         => StructField(name, LongType)
    }))
}

/** One relationship-cache entry: a detected edge and when it was cached. */
case class CachedEdge(edge: Relationship, cachedAtMs: Long) {
  // relationship_cache.py's per-entry TTL check
  def freshAt(nowMs: Long, ttlMs: Long): Boolean = cachedAtMs >= nowMs - ttlMs
}

/** Cross-run relationship cache keyed by edge with a TTL
  * (relationship_cache.py:28: 24 h default), as a keyed parquet table with
  * the detector's edge columns plus `cached_at_ms`. Freshness is decided on
  * the driver: as a Column predicate over a local frame, `nowMs` would be
  * inlined into a freshly compiled class on every call that no later
  * request can reuse.
  */
object RelationshipCache {
  val DefaultTtlMs: Long = 24L * 3600 * 1000

  /** The detector's edge columns, in its order, which is also the order of
    * Relationship's fields.
    */
  val EdgeSchema: StructType = StructType(
    Seq("source_table", "source_column", "target_table", "target_column", "relationship_type")
      .map(StructField(_, StringType)) ++
    Seq(StructField("confidence", DoubleType), StructField("detection_method", StringType),
      StructField("is_custom", BooleanType)))

  private val CacheSchema = EdgeSchema.add(StructField("cached_at_ms", LongType))

  private def edge(r: Row): Relationship = Relationship(
    r.getAs[String]("source_table"), r.getAs[String]("source_column"),
    r.getAs[String]("target_table"), r.getAs[String]("target_column"),
    r.getAs[String]("relationship_type"), r.getAs[Double]("confidence"),
    r.getAs[String]("detection_method"), r.getAs[Boolean]("is_custom"))

  /** The edges of a frame with [[EdgeSchema]]'s columns, collected. */
  def collectEdges(df: DataFrame): Seq[Relationship] = df.collect().toSeq.map(edge)

  /** `edges` as a local frame with [[EdgeSchema]]. */
  def edgeFrame(spark: SparkSession, edges: Seq[Relationship]): DataFrame =
    spark.createDataFrame(edges.map(Row.fromTuple).asJava, EdgeSchema)

  /** The cache saved at `path`; empty when none is. */
  def load(path: String): Seq[CachedEdge] =
    LocalParquet.read(path, required = Seq("confidence", "is_custom", "cached_at_ms"))
      .map(r => CachedEdge(edge(r), r.getAs[Long]("cached_at_ms")))

  /** A8 — cache statistics (relationship_cache.py:142-156's
    * `get_cache_stats`): entry count split into fresh vs TTL-expired at
    * `nowMs`, plus the TTL in whole hours.
    */
  def stats(cache: Seq[CachedEdge], nowMs: Long, ttlMs: Long = DefaultTtlMs): Seq[(String, Any)] = {
    val fresh = cache.count(_.freshAt(nowMs, ttlMs)).toLong
    Seq(
      "n_cache_entries" -> cache.size.toLong,
      "n_cache_fresh" -> fresh,
      "n_cache_expired" -> (cache.size - fresh),
      "cache_ttl_hours" -> ttlMs / (3600L * 1000))
  }

  /** Upsert `fresh` edges cached at `nowMs` into `prior`: the newest entry
    * per edge wins (the new one on a tie); TTL-expired entries are dropped.
    */
  def put(path: String, prior: Seq[CachedEdge], fresh: Seq[Relationship], nowMs: Long,
      ttlMs: Long = DefaultTtlMs): Unit =
    LocalParquet.write(path, CacheSchema,
      (fresh.map(CachedEdge(_, nowMs)) ++ prior)
        .filter(_.freshAt(nowMs, ttlMs))
        .sortBy(_.cachedAtMs)(Ordering[Long].reverse)
        .distinctBy(c => (c.edge.sourceTable, c.edge.sourceColumn,
          c.edge.targetTable, c.edge.targetColumn))
        .map(c => Row.fromSeq(c.edge.productIterator.toSeq :+ c.cachedAtMs)))
}
