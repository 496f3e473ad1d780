package graft.state

import java.nio.file.Files

import graft.SparkSpec
import graft.catalog.ParquetCatalog
import graft.core.Relationship
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{lit, md5}

class IncrementalStateSpec extends SparkSpec {

  private val rel = Relationship("a", "x", "b", "y", "many_to_one", 0.9, "exact_match", false)

  test("checksum change detection: only changed tables reprocess") {
    val tables = ParquetCatalog.tables(spark, sf0001)
    val current = IncrementalState.checksums(tables, nowMs = 1000L)
    // driver-side checksums are Spark's md5 hex, so saved states stay valid
    val sparkMd5 = tables.map(t => t.tableName ->
      spark.range(1).select(md5(lit(IncrementalState.canonicalSchema(t)))).head.getString(0)).toMap
    assert(current.map(e => e.tableName -> e.schemaHash).toMap === sparkMd5)
    val dir = Files.createTempDirectory("graft_state").toString
    val statePath = s"$dir/state.parquet"

    // first run: everything is new
    val prior = IncrementalState.load(statePath)
    assert(IncrementalState.changed(current, prior).size === 10)
    IncrementalState.save(statePath, current, prior)

    // second run, unchanged: nothing to do (the reference's early-exit,
    // enhanced_relationship_detector.py:73-75)
    val state2 = IncrementalState.load(statePath)
    assert(IncrementalState.changed(current, state2).size === 0)

    // simulate one schema change: perturb a hash
    val mutated = current.map(e =>
      if (e.tableName == "orders") e.copy(schemaHash = "deadbeef", processedAtMs = 2000L)
      else e.copy(processedAtMs = 2000L))
    assert(IncrementalState.changed(mutated, state2).size === 1)

    // upsert keeps one row per table, newest processed_at
    IncrementalState.save(statePath, mutated, state2)
    val state3 = IncrementalState.load(statePath)
    assert(state3.size === 10)
    assert(state3.find(_.tableName == "orders").get.schemaHash === "deadbeef")
  }

  test("relationship cache: TTL filters stale entries, upsert keeps newest") {
    val path = Files.createTempDirectory("graft_cache").toString + "/cache.parquet"
    RelationshipCache.put(path, RelationshipCache.load(path), Seq(rel), nowMs = 1000L)
    // live entries for the (a, b) pair at `nowMs`
    def live(nowMs: Long): Seq[CachedEdge] = RelationshipCache.load(path).filter(c =>
      c.freshAt(nowMs, RelationshipCache.DefaultTtlMs) &&
        c.edge.sourceTable == "a" && c.edge.targetTable == "b")

    assert(live(nowMs = 2000L).size === 1)
    assert(live(nowMs = 1000L + RelationshipCache.DefaultTtlMs).size === 1) // boundary: fresh
    // beyond TTL: stale
    assert(live(nowMs = 1000L + RelationshipCache.DefaultTtlMs + 1).size === 0)

    // upsert with higher confidence at a later time wins
    RelationshipCache.put(path, RelationshipCache.load(path), Seq(rel.copy(confidence = 1.0)),
      nowMs = 3000L)
    val latest = live(nowMs = 4000L)
    assert(latest.size === 1)
    assert(latest.head.edge.confidence === 1.0)
  }

  test("relationship cache: put and get at a new nowMs compile no new classes") {
    val path = Files.createTempDirectory("graft_cache_codegen").toString + "/cache.parquet"
    def putGet(nowMs: Long): Unit = {
      RelationshipCache.put(path, RelationshipCache.load(path), Seq(rel), nowMs)
      val got = RelationshipCache.load(path)
        .filter(_.freshAt(nowMs, RelationshipCache.DefaultTtlMs))
      assert(got.map(_.cachedAtMs) === Seq(nowMs))
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
    def rows(rs: Seq[org.apache.spark.sql.Row]) = rs.map(_.toSeq).sortBy(_.toString)
    val nullable = org.apache.spark.sql.types.StructType(df.schema.map(_.copy(nullable = true)))
    df.coalesce(1).write.parquet(s"$dir/spark")
    val local = LocalParquet.read(s"$dir/spark")
    assert(local.map(_.schema).distinct === Seq(nullable))
    assert(rows(local) === rows(df.collect().toSeq))
    LocalParquet.write(s"$dir/local", df.schema, df.collect().toSeq)
    val back = spark.read.parquet(s"$dir/local")
    assert(back.schema === nullable)
    assert(rows(back.collect().toSeq) === rows(df.collect().toSeq))
    assert(!new java.io.File(s"$dir/local.tmp").exists())
    assert(new java.io.File(s"$dir/local").list().toSeq === Seq("part-00000.parquet"))
  }

  test("A8: relationshipStats aggregates state + typed edge breakdown into one row") {
    val state = Seq(StateEntry("t1", "h1", 100L), StateEntry("t2", "h2", 300L),
      StateEntry("t3", "h3", 200L))
    val rels = Seq(
      rel,
      rel.copy(sourceTable = "c", confidence = 0.8),
      rel.copy(sourceTable = "d", relationshipType = "one_to_one", confidence = 0.7))
    def row(rs: Seq[Relationship]) = IncrementalState.statsFrame(spark,
      IncrementalState.relationshipStats(state, rs): _*).collect().head
    val r = row(rels)
    assert(r.getAs[Long]("processed_tables") === 3L)
    assert(r.getAs[Long]("last_processed_at_ms") === 300L)
    assert(r.getAs[Long]("total_relationships") === 3L)
    assert(r.getAs[Long]("n_relationship_types") === 2L)
    assert(r.getAs[String]("relationship_types") === "many_to_one:2,one_to_one:1")
    // empty graph: totals zero, breakdown empty — no nulls leak
    val empty = row(Nil)
    assert(empty.getAs[Long]("total_relationships") === 0L)
    assert(empty.getAs[String]("relationship_types") === "")
  }

  test("A8: cache stats split entries into fresh vs expired at the probe time") {
    val cache = Seq(("a", "b", 1000L), ("c", "d", 5000L), ("e", "f", 9000L)).map {
      case (s, t, at) => CachedEdge(rel.copy(sourceTable = s, targetTable = t), at)
    }
    def row(c: Seq[CachedEdge], nowMs: Long, ttlMs: Long) = IncrementalState.statsFrame(spark,
      RelationshipCache.stats(c, nowMs, ttlMs): _*).collect().head
    val r = row(cache, nowMs = 9000L, ttlMs = 4000L)
    assert(r.getAs[Long]("n_cache_entries") === 3L)
    assert(r.getAs[Long]("n_cache_fresh") === 2L) // 5000, 9000 >= 9000-4000
    assert(r.getAs[Long]("n_cache_expired") === 1L)
    assert(r.getAs[Long]("cache_ttl_hours") === 0L) // sub-hour TTL floors
    val empty = row(Nil, nowMs = 1L, ttlMs = RelationshipCache.DefaultTtlMs)
    assert(empty.getAs[Long]("n_cache_entries") === 0L)
    assert(empty.getAs[Long]("n_cache_fresh") === 0L)
  }

  test("canonical schema covers arrays and nullability") {
    val cat = ParquetCatalog.tables(spark, sf0001)
    val emb = cat.find(_.tableName == "embeddings").get
    assert(IncrementalState.canonicalSchema(emb) ===
      "embeddings|vec_id:bigint:opt,embedding:array<float>:opt,label:integer:opt")
  }
}
