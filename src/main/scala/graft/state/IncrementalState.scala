package graft.state

import graft.core.TableMeta
import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Incremental-processing state + relationship cache (SURVEY §2.8/S9/S10,
  * §4) — the reference's IncrementalProcessor (incremental_processor
  * .py:31-136) and RelationshipCache (relationship_cache.py:36-114)
  * re-expressed as keyed parquet state tables with idempotent last-writer-
  * wins upserts (SURVEY §7.4.5), instead of mutable JSON files.
  *
  * Table-level change detection is the catalog analog of partition pruning:
  * an anti-join of current schema checksums against stored state yields the
  * work list; unchanged tables short-circuit to their cached relationships.
  * Both tables are catalog-scale (one row per table or per edge), so they
  * are read, merged and written on the driver ([[LocalParquet]]) and a
  * steady refresh runs no Spark job.
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

  /** Current checksums as a local DataFrame (table_name, schema_hash),
    * computed on the driver: the catalog is driver-resident metadata. The
    * hash is the md5 hex Spark's `md5` gives, so saved states stay
    * comparable whichever side computed them.
    */
  def schemaChecksums(spark: SparkSession, tables: Seq[TableMeta]): DataFrame = {
    import spark.implicits._
    tables
      .map(t => (t.tableName, DigestUtils.md5Hex(canonicalSchema(t))))
      .toDF("table_name", "schema_hash")
  }

  def schemaChecksums(catalog: Dataset[TableMeta]): DataFrame =
    schemaChecksums(catalog.sparkSession, catalog.collect().toSeq)

  /** Load persisted state as a local frame; empty-schema DataFrame when
    * absent.
    */
  def loadState(spark: SparkSession, statePath: String): DataFrame =
    if (new java.io.File(statePath).exists()) LocalParquet.read(spark, statePath)
    else {
      import spark.implicits._
      Seq.empty[(String, String, Long)].toDF("table_name", "schema_hash", "processed_at_ms")
    }

  /** Changed-or-new tables: current checksums anti-joined against state on
    * (table_name, schema_hash) — the incremental gate
    * (incremental_processor.py:116-136). Both sides are collected and the
    * anti-join runs on the driver; as with a join, a null key never matches.
    */
  def tablesToProcess(current: DataFrame, state: DataFrame): DataFrame = {
    def key(r: Row, t: Int, h: Int): Option[(String, String)] =
      if (r.isNullAt(t) || r.isNullAt(h)) None else Some((r.getString(t), r.getString(h)))
    val seen = state.select("table_name", "schema_hash").collect().flatMap(key(_, 0, 1)).toSet
    val (t, h) = (current.schema.fieldIndex("table_name"), current.schema.fieldIndex("schema_hash"))
    val rows = current.collect().filterNot(r => key(r, t, h).exists(seen))
    current.sparkSession.createDataFrame(rows.toSeq.asJava, current.schema)
  }

  /** A8 — stats over the incremental state + relationship graph
    * (incremental_processor.py:182-204's `get_relationship_stats`), as one
    * summary row: processed-table count, last-processed watermark, total
    * relationships, and the per-type breakdown flattened to a deterministic
    * `type:count` list (the reference returns a dict; a sorted string is the
    * engine-portable row form). Both inputs are catalog-scale, but every
    * aggregate here is a map-side-combined single pass, so the same code is
    * correct over a million-table state.
    */
  def relationshipStats(state: DataFrame, relationships: DataFrame): DataFrame = {
    val stateAgg = state.agg(
      count(lit(1)).as("processed_tables"),
      max(col("processed_at_ms")).as("last_processed_at_ms"))
    val typeCounts = relationships
      .groupBy(col("relationship_type")).agg(count(lit(1)).as("n"))
    val relAgg = typeCounts.agg(
      coalesce(sum(col("n")), lit(0L)).as("total_relationships"),
      count(lit(1)).as("n_relationship_types"),
      concat_ws(",",
        sort_array(collect_list(concat_ws(":", col("relationship_type"), col("n")))))
        .as("relationship_types"))
    stateAgg.crossJoin(relAgg)
  }

  /** Upsert processed tables into state: the newest entry per table wins,
    * the current one on a tie. Merged on the driver and rewritten as one
    * file; at a scale where the state outgrows the driver this would be a
    * Delta upsert.
    */
  def saveState(
      current: DataFrame, prior: DataFrame, statePath: String, nowMs: Long): Unit = {
    val fresh = current.select("table_name", "schema_hash").collect()
      .map(r => Row(r.getString(0), r.getString(1), nowMs))
    val old = prior.select("table_name", "schema_hash", "processed_at_ms").collect()
    val latest = (fresh ++ old).toSeq
      .sortBy(_.getLong(2))(Ordering[Long].reverse)
      .distinctBy(_.getString(0))
    LocalParquet.write(statePath, StateSchema, latest)
  }

  private val StateSchema = StructType(Seq(
    StructField("table_name", StringType), StructField("schema_hash", StringType),
    StructField("processed_at_ms", LongType)))
}

/** Cross-run relationship cache keyed by table pair with a TTL
  * (relationship_cache.py:28: 24 h default), as a keyed parquet table:
  * `get` = TTL filter + pair lookup, `put` = last-writer-wins upsert.
  *
  * The cache is catalog-scale (post-top-k edges), so `get` and `put` apply
  * the TTL and the newest-per-edge merge to collected rows on the driver.
  * As a Column predicate over a local frame, `nowMs` would be inlined into
  * a freshly compiled class on every call that no later request can reuse.
  */
object RelationshipCache {
  val DefaultTtlMs: Long = 24L * 3600 * 1000

  def load(spark: SparkSession, path: String): DataFrame =
    if (new java.io.File(path).exists()) LocalParquet.read(spark, path)
    else {
      import spark.implicits._
      Seq.empty[(String, String, String, String, String, Double, String, Boolean, Long)]
        .toDF("source_table", "source_column", "target_table", "target_column",
          "relationship_type", "confidence", "detection_method", "is_custom", "cached_at_ms")
    }

  /** Fresh cached relationships for the given pairs (TTL-filtered). */
  def get(cache: DataFrame, pairs: DataFrame, nowMs: Long,
      ttlMs: Long = DefaultTtlMs): DataFrame = {
    val ts = cache.schema.fieldIndex("cached_at_ms")
    val live = cache.collect().filter(_.getLong(ts) >= nowMs - ttlMs)
    cache.sparkSession.createDataFrame(live.toSeq.asJava, cache.schema)
      .join(pairs, Seq("source_table", "target_table"), "left_semi")
  }

  /** A8 — cache statistics (relationship_cache.py:142-156's
    * `get_cache_stats`): entry count split into fresh vs TTL-expired at
    * `nowMs`, plus the TTL itself — one aggregation pass over the cache
    * table.
    */
  def stats(cache: DataFrame, nowMs: Long, ttlMs: Long = DefaultTtlMs): DataFrame =
    cache.agg(
      count(lit(1)).as("n_cache_entries"),
      coalesce(sum(when(col("cached_at_ms") >= nowMs - ttlMs, 1L).otherwise(0L)), lit(0L))
        .as("n_cache_fresh"),
      coalesce(sum(when(col("cached_at_ms") < nowMs - ttlMs, 1L).otherwise(0L)), lit(0L))
        .as("n_cache_expired"))
      .withColumn("cache_ttl_hours", lit(ttlMs / (3600L * 1000)))

  /** Upsert: newest entry per edge wins (the new entry on a tie); stale
    * rows (TTL-expired) dropped.
    */
  def put(cache: DataFrame, fresh: DataFrame, path: String, nowMs: Long,
      ttlMs: Long = DefaultTtlMs): Unit = {
    val schema = StructType(
      (fresh.schema.fields :+ StructField("cached_at_ms", LongType)).map(_.copy(nullable = true)))
    val ts = schema.fieldIndex("cached_at_ms")
    val edge = Seq("source_table", "source_column", "target_table", "target_column")
      .map(schema.fieldIndex)
    val merged = fresh.collect().map(r => Row.fromSeq(r.toSeq :+ nowMs)) ++
      cache.select(schema.fieldNames.toSeq.map(col): _*).collect()
    val rows = merged.toSeq
      .filter(_.getLong(ts) >= nowMs - ttlMs)
      .sortBy(_.getLong(ts))(Ordering[Long].reverse)
      .distinctBy(r => edge.map(r.get))
    LocalParquet.write(path, schema, rows)
  }
}
