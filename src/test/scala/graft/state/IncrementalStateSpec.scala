package graft.state

import java.nio.file.Files

import graft.SparkSpec
import graft.catalog.ParquetCatalog
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit, md5}

class IncrementalStateSpec extends SparkSpec {

  test("checksum change detection: only changed tables reprocess") {
    val catalog = ParquetCatalog.catalog(spark, sf0001)
    val current = IncrementalState.schemaChecksums(catalog).cache()
    // driver-side checksums are Spark's md5 hex, so saved states stay valid
    val sparkMd5 = catalog.collect().map(t => t.tableName ->
      spark.range(1).select(md5(lit(IncrementalState.canonicalSchema(t)))).head.getString(0)).toMap
    assert(current.collect().map(r => r.getString(0) -> r.getString(1)).toMap === sparkMd5)
    val dir = Files.createTempDirectory("graft_state").toString
    val statePath = s"$dir/state.parquet"

    // first run: everything is new
    val prior = IncrementalState.loadState(spark, statePath)
    assert(IncrementalState.tablesToProcess(current, prior).count() === 10)
    IncrementalState.saveState(current, prior, statePath, nowMs = 1000L)

    // second run, unchanged: nothing to do (the reference's early-exit,
    // enhanced_relationship_detector.py:73-75)
    val state2 = IncrementalState.loadState(spark, statePath)
    assert(IncrementalState.tablesToProcess(current, state2).count() === 0)

    // simulate one schema change: perturb a hash
    import org.apache.spark.sql.functions._
    val mutated = current.withColumn(
      "schema_hash",
      when(col("table_name") === "orders", lit("deadbeef")).otherwise(col("schema_hash")))
    assert(IncrementalState.tablesToProcess(mutated, state2).count() === 1)

    // upsert keeps one row per table, newest processed_at
    IncrementalState.saveState(mutated, state2, statePath, nowMs = 2000L)
    val state3 = IncrementalState.loadState(spark, statePath)
    assert(state3.count() === 10)
    assert(state3.filter(col("table_name") === "orders")
      .head.getAs[String]("schema_hash") === "deadbeef")
  }

  test("relationship cache: TTL filters stale entries, upsert keeps newest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cache").toString
    val path = s"$dir/cache.parquet"
    val rel = Seq(("a", "x", "b", "y", "many_to_one", 0.9, "exact_match", false))
      .toDF("source_table", "source_column", "target_table", "target_column",
        "relationship_type", "confidence", "detection_method", "is_custom")

    RelationshipCache.put(RelationshipCache.load(spark, path), rel, path, nowMs = 1000L)
    val pairs = Seq(("a", "b")).toDF("source_table", "target_table")

    val fresh = RelationshipCache.get(RelationshipCache.load(spark, path), pairs, nowMs = 2000L)
    assert(fresh.count() === 1)

    // beyond TTL: stale
    val stale = RelationshipCache.get(
      RelationshipCache.load(spark, path), pairs,
      nowMs = 1000L + RelationshipCache.DefaultTtlMs + 1)
    assert(stale.count() === 0)

    // upsert with higher confidence at a later time wins
    val rel2 = rel.withColumn("confidence", org.apache.spark.sql.functions.lit(1.0))
    RelationshipCache.put(RelationshipCache.load(spark, path), rel2, path, nowMs = 3000L)
    val latest = RelationshipCache.get(RelationshipCache.load(spark, path), pairs, nowMs = 4000L)
    assert(latest.head.getAs[Double]("confidence") === 1.0)
  }

  test("relationship cache: put and get at a new nowMs compile no new classes") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_cache_codegen").toString + "/cache.parquet"
    val rel = Seq(("a", "x", "b", "y", "many_to_one", 0.9, "exact_match", false))
      .toDF("source_table", "source_column", "target_table", "target_column",
        "relationship_type", "confidence", "detection_method", "is_custom")
    val pairs = Seq(("a", "b")).toDF("source_table", "target_table")
    def putGet(nowMs: Long): Unit = {
      RelationshipCache.put(RelationshipCache.load(spark, path), rel, path, nowMs)
      val got = RelationshipCache.get(RelationshipCache.load(spark, path), pairs, nowMs).collect()
      assert(got.map(_.getAs[Long]("cached_at_ms")).toSeq === Seq(nowMs))
    }
    putGet(1000L) // warm-up
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    putGet(1000L + 2 * RelationshipCache.DefaultTtlMs)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles)
  }

  test("state files: the driver-side parquet reads what Spark wrote and Spark reads what it wrote") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_local_parquet").toString
    val df = Seq(
      (Some("a"), Some(1L), Some(0.5), Some(true)),
      (None, None, None, None),
      (Some("é"), Some(Long.MinValue), Some(-0.0), Some(false)))
      .toDF("s", "l", "d", "b")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val nullable = org.apache.spark.sql.types.StructType(df.schema.map(_.copy(nullable = true)))
    df.coalesce(1).write.parquet(s"$dir/spark")
    val local = LocalParquet.read(spark, s"$dir/spark")
    assert(local.schema === nullable)
    assert(rows(local) === rows(df))
    LocalParquet.write(s"$dir/local", df.schema, df.collect().toSeq)
    val back = spark.read.parquet(s"$dir/local")
    assert(back.schema === nullable)
    assert(rows(back) === rows(df))
    assert(!new java.io.File(s"$dir/local.tmp").exists())
  }

  test("A8: relationshipStats aggregates state + typed edge breakdown into one row") {
    import spark.implicits._
    val state = Seq(("t1", "h1", 100L), ("t2", "h2", 300L), ("t3", "h3", 200L))
      .toDF("table_name", "schema_hash", "processed_at_ms")
    val rels = Seq(
      ("a", "x", "b", "y", "many_to_one", 0.9),
      ("c", "x", "b", "y", "many_to_one", 0.8),
      ("d", "x", "b", "y", "one_to_one", 0.7))
      .toDF("source_table", "source_column", "target_table", "target_column",
        "relationship_type", "confidence")
    val r = IncrementalState.relationshipStats(state, rels).collect().head
    assert(r.getAs[Long]("processed_tables") === 3L)
    assert(r.getAs[Long]("last_processed_at_ms") === 300L)
    assert(r.getAs[Long]("total_relationships") === 3L)
    assert(r.getAs[Long]("n_relationship_types") === 2L)
    assert(r.getAs[String]("relationship_types") === "many_to_one:2,one_to_one:1")
    // empty graph: totals zero, breakdown empty — no nulls leak
    val empty = IncrementalState.relationshipStats(state, rels.limit(0)).collect().head
    assert(empty.getAs[Long]("total_relationships") === 0L)
    assert(empty.getAs[String]("relationship_types") === "")
  }

  test("A8: cache stats split entries into fresh vs expired at the probe time") {
    import spark.implicits._
    val cache = Seq(("a", "b", 1000L), ("c", "d", 5000L), ("e", "f", 9000L))
      .toDF("source_table", "target_table", "cached_at_ms")
    val r = RelationshipCache.stats(cache, nowMs = 9000L, ttlMs = 4000L).collect().head
    assert(r.getAs[Long]("n_cache_entries") === 3L)
    assert(r.getAs[Long]("n_cache_fresh") === 2L) // 5000, 9000 >= 9000-4000
    assert(r.getAs[Long]("n_cache_expired") === 1L)
    assert(r.getAs[Long]("cache_ttl_hours") === 0L) // sub-hour TTL floors
    val empty = RelationshipCache.stats(cache.limit(0), nowMs = 1L).collect().head
    assert(empty.getAs[Long]("n_cache_entries") === 0L)
    assert(empty.getAs[Long]("n_cache_fresh") === 0L)
  }

  test("canonical schema covers arrays and nullability") {
    val cat = ParquetCatalog.catalog(spark, sf0001).collect()
    val emb = cat.find(_.tableName == "embeddings").get
    assert(IncrementalState.canonicalSchema(emb) ===
      "embeddings|vec_id:bigint:opt,embedding:array<float>:opt,label:integer:opt")
  }
}
