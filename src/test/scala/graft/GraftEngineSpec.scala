package graft

import java.io.File
import java.nio.file.Files

import graft.core.CustomRule
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

class GraftEngineSpec extends SparkSpec {

  private lazy val engine = new GraftEngine(
    spark, sf0001,
    customRules = Seq(CustomRule("events", "user_id", "customer", "c_custkey")))

  test("end-to-end: enhanced pipeline boosts all consistent edges to 1.0") {
    val out = engine.enhancedRelationships().collect()
    assert(out.length === 8)
    assert(out.forall(_.getAs[Boolean]("data_validated")))
    assert(out.forall(_.getAs[Double]("adjusted_confidence") === 1.0))
  }

  test("all three render formats produce non-trivial deterministic output") {
    val m1 = engine.renderErd("mermaid")
    assert(m1 === engine.renderErd("mermaid")) // deterministic
    assert(m1.contains("lineitem"))
    assert(engine.renderErd("plantuml").contains("@startuml"))
    assert(engine.renderErd("drawio").contains("<mxfile"))
    intercept[IllegalArgumentException](engine.renderErd("nope"))
  }

  test("data_testing.enabled=false short-circuits: edges pass through untested") {
    val off = new GraftEngine(
      spark, sf0001,
      customRules = Seq(CustomRule("events", "user_id", "customer", "c_custkey")),
      cfg = graft.core.DetectionConfig(dataTestEnabled = false))
    val out = off.enhancedRelationships()
    // no data-test columns were added — the name-detected frame is returned
    assert(!out.columns.contains("data_validated"))
    assert(out.count() === off.relationships.count())
  }

  test("data_testing.sample_size caps endpoint scans as per-table fractions") {
    val sized = new GraftEngine(
      spark, sf0001,
      customRules = Seq(CustomRule("events", "user_id", "customer", "c_custkey")),
      cfg = graft.core.DetectionConfig(dataTestSampleSize = 200))
    val out = sized.enhancedRelationships().collect()
    assert(out.length === 8)
    // sampled testing still validates the consistent sf0.001 edges; with
    // ~200 rows per endpoint the RI margin stays well above the threshold
    assert(out.count(_.getAs[Boolean]("data_validated")) >= 6)
  }

  test("adaptive sampling: rows equal the adjusted data test at each table's Cochran fraction") {
    import graft.datatest.DataTester
    def expected(cl: Double, moe: Double) = {
      val fractions = engine.tables.map(t =>
        t.tableName -> DataTester.cochranFraction(t.numRows, cl, moe)).toMap
      val ends = Seq("source_table", "source_column", "target_table", "target_column")
      val edges = engine.relationships.select(ends.map(col): _*).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
      DataTester.adjustConfidence(
        DataTester.testRelationships(spark, sf0001, edges, fractions)
          .join(engine.relationships, ends), engine.cfg)
        .filter(col("adjusted_confidence") >= engine.cfg.minConfidence)
    }
    def rows(df: org.apache.spark.sql.DataFrame, columns: Array[String]) =
      df.select(columns.toSeq.map(col): _*).collect().toSet
    val coarse = engine.enhancedRelationshipsAdaptive(0.95, 0.05)
    val fine = engine.enhancedRelationshipsAdaptive(0.99, 0.01)
    assert(rows(coarse, coarse.columns) === rows(expected(0.95, 0.05), coarse.columns))
    assert(rows(fine, fine.columns) === rows(expected(0.99, 0.01), fine.columns))
    // one memo entry per (confidence level, margin of error)
    assert(engine.enhancedRelationshipsAdaptive(0.95, 0.05) eq coarse)
    assert(!(fine eq coarse))
    def sampled(df: org.apache.spark.sql.DataFrame) =
      df.select("source_table", "total_src").collect().toSet
    assert(sampled(fine) !== sampled(coarse), "the two margins sample the same rows")
  }

  test("cache TTL binds: fresh cache serves edges, expired cache re-detects") {
    val path = Files.createTempDirectory("graft_ttl").toString + "/rels.parquet"
    val eng = new GraftEngine(
      spark, sf0001,
      customRules = Seq(CustomRule("events", "user_id", "customer", "c_custkey")),
      cfg = graft.core.DetectionConfig(cacheTtlHours = 24))
    val t0 = 1000L * 3600 * 1000
    val first = eng.relationshipsCached(path, nowMs = t0) // cold: detect + put
    assert(first.count() === 8)
    // within TTL: served from the cache file (same edges, cached_at dropped)
    val cached = eng.relationshipsCached(path, nowMs = t0 + 23L * 3600 * 1000)
    assert(cached.collect().toSet === first.collect().toSet)
    // past TTL: the freshness probe finds nothing and re-detection runs
    val expired = eng.relationshipsCached(path, nowMs = t0 + 25L * 3600 * 1000)
    assert(expired.count() === 8)
  }

  test("mixed-age cache (some entries expired) re-detects instead of serving the fresh subset") {
    val path = Files.createTempDirectory("graft_ttl_mixed").toString + "/rels.parquet"
    val ttlMs = 24L * 3600 * 1000
    val eng = new GraftEngine(
      spark, sf0001,
      customRules = Seq(CustomRule("events", "user_id", "customer", "c_custkey")),
      cfg = graft.core.DetectionConfig(cacheTtlHours = 24))
    val t0 = 1000L * 3600 * 1000
    assert(eng.relationshipsCached(path, nowMs = t0).count() === 8)
    // refresh ONE pair 10h later through the public per-pair put API — the
    // file now holds mixed-age rows (1 @ t0+10h, 7 @ t0)
    val cache = graft.state.RelationshipCache.load(path)
    val one = cache.map(_.edge).sortBy(e => (e.sourceTable, e.sourceColumn)).take(1)
    graft.state.RelationshipCache.put(
      path, cache, one, nowMs = t0 + 10L * 3600 * 1000, ttlMs = ttlMs)
    // 30h after t0 the refreshed pair is still fresh but the other 7 are
    // expired: the engine must NOT serve the 1-row fresh subset — it
    // re-detects the full edge set and rewrites the cache wholly fresh
    val now = t0 + 30L * 3600 * 1000
    assert(eng.relationshipsCached(path, nowMs = now).count() === 8)
    val rewritten = graft.state.RelationshipCache.load(path)
    assert(rewritten.size === 8)
    assert(rewritten.count(_.cachedAtMs == now) === 8)
  }

  test("performance.cache_enabled=false bypasses the cache entirely") {
    val path = Files.createTempDirectory("graft_nocache").toString + "/rels.parquet"
    val eng = new GraftEngine(
      spark, sf0001,
      customRules = Seq(CustomRule("events", "user_id", "customer", "c_custkey")),
      cfg = graft.core.DetectionConfig(cacheEnabled = false))
    assert(eng.relationshipsCached(path, nowMs = 123L).count() === 8)
    assert(!new java.io.File(path).exists(), "disabled cache must not write a file")
  }

  test("A8 stats: live catalog state + edges, optional cache split") {
    val r = engine.stats(nowMs = 42L).collect().head
    assert(r.getAs[Long]("processed_tables") === 10L)
    assert(r.getAs[Long]("last_processed_at_ms") === 42L)
    assert(r.getAs[Long]("total_relationships") === 8L)
    assert(r.getAs[String]("relationship_types") === "many_to_one:8")
    // with a cache file: entries split fresh vs expired at nowMs
    val path = Files.createTempDirectory("graft_stats").toString + "/rels.parquet"
    val t0 = 1000L * 3600 * 1000
    engine.relationshipsCached(path, nowMs = t0)
    val withCache = engine
      .stats(cachePath = Some(path), nowMs = t0 + 25L * 3600 * 1000)
      .collect().head
    assert(withCache.getAs[Long]("n_cache_entries") === 8L)
    assert(withCache.getAs[Long]("n_cache_fresh") === 0L) // all past 24h TTL
    assert(withCache.getAs[Long]("n_cache_expired") === 8L)
  }

  test("incremental gate: first run processes all, saved state empties it") {
    val statePath = Files.createTempDirectory("graft_engine").toString + "/state.parquet"
    assert(engine.changedTables(statePath).count() === 10)
    engine.saveProcessedState(statePath, nowMs = 42L)
    assert(engine.changedTables(statePath).count() === 0)
  }

  /** A two-table lake with one FK edge (orders.o_custkey → customer). */
  private def writeLake(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_drift").toString
    Seq((1L, "ann"), (2L, "bob"), (3L, "cy")).toDF("c_custkey", "c_name")
      .write.parquet(s"$dir/customer.parquet")
    Seq((10L, 1L), (11L, 2L), (12L, 2L), (13L, 3L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    dir
  }

  /** Swaps a table directory in place, as an upstream writer does: the new
    * version is written beside it, then renamed over it.
    */
  private def swapIn(table: String)(write: String => Unit): Unit = {
    val tmp = s"$table.rewrite"
    write(tmp)
    FileUtils.deleteDirectory(new File(table))
    assert(new File(tmp).renameTo(new File(table)))
  }

  private def drift(dir: String): Unit = {
    val orders = s"$dir/orders.parquet"
    swapIn(orders)(tmp => spark.read.parquet(orders)
      .withColumn("drift_note", lit("late")).write.parquet(tmp))
  }

  private def changed(engine: GraftEngine, statePath: String): Set[String] =
    engine.changedTables(statePath).collect().map(_.getString(0)).toSet

  test("an in-place table rewrite is visible to the next engine; restoring it is a change again") {
    val dir = writeLake()
    val state = Files.createTempDirectory("graft_drift_state").toString + "/state.parquet"
    val backup = Files.createTempDirectory("graft_drift_backup").toString + "/orders.parquet"
    FileUtils.copyDirectory(new File(s"$dir/orders.parquet"), new File(backup))
    val before = new GraftEngine(spark, dir)
    assert(changed(before, state) === Set("customer", "orders"))
    before.saveProcessedState(state, nowMs = 1L)
    assert(!before.renderErd("mermaid").contains("drift_note"))

    drift(dir)
    val drifted = new GraftEngine(spark, dir)
    assert(drifted.catalog.collect().find(_.tableName == "orders").get
      .columns.map(_.name).contains("drift_note"))
    assert(drifted.renderErd("mermaid").contains("drift_note"))
    assert(changed(drifted, state) === Set("orders"))
    drifted.saveProcessedState(state, nowMs = 2L)
    assert(changed(new GraftEngine(spark, dir), state).isEmpty)

    swapIn(s"$dir/orders.parquet")(tmp => FileUtils.copyDirectory(new File(backup), new File(tmp)))
    val restored = new GraftEngine(spark, dir)
    assert(changed(restored, state) === Set("orders"))
    assert(!restored.renderErd("mermaid").contains("drift_note"))
  }

  test("catalog-derived results are shared by content: unchanged and restored lakes hit the memo") {
    val dir = writeLake()
    val first = new GraftEngine(spark, dir).relationships
    assert(first.collect().map(_.getAs[String]("source_column")).toSeq === Seq("o_custkey"))
    assert(new GraftEngine(spark, dir).relationships eq first)
    val orders = s"$dir/orders.parquet"
    val snapshot = Files.createTempDirectory("graft_memo_snap").toString + "/orders"
    spark.read.parquet(orders).write.parquet(snapshot)

    drift(dir)
    val drifted = new GraftEngine(spark, dir)
    assert(!(drifted.relationships eq first))
    assert(drifted.classifiedColumns.filter(col("columnName") === "drift_note").count() === 1)

    // restore through a rewrite (new part files), to the pre-drift schema
    swapIn(orders)(tmp => spark.read.parquet(snapshot).write.parquet(tmp))
    assert(new GraftEngine(spark, dir).relationships eq first)
  }

  test("catalog-scale work starts no Spark job") {
    // catalog, classify, detect, a render after an in-place drift and a
    // refresh past the cache TTL
    import spark.implicits._
    val dir = writeLake()
    // a table no other lake holds, so no memoized result can serve this one
    Seq(1L).toDF(s"probe_${System.nanoTime}_id").write.parquet(s"$dir/probe.parquet")
    val cache = Files.createTempDirectory("graft_jobs_cache").toString + "/cache"
    val ttlMs = graft.core.DetectionConfig().cacheTtlMs
    def jobs(body: => Unit) = startedBy(body).filter(_._1 == "job")
    val engine = new GraftEngine(spark, dir)
    assert(jobs(assert(engine.catalog.collect().length === 3)) === Seq.empty)
    assert(jobs(assert(engine.classifiedColumns.collect().length === 5)) === Seq.empty)
    assert(jobs(assert(engine.relationships.collect().length === 1)) === Seq.empty)
    assert(jobs(engine.relationshipsCached(cache, 1L).collect()) === Seq.empty)
    assert(jobs(assert(engine.relationshipsCached(cache, 2L + ttlMs).collect().length === 1))
      === Seq.empty)
    drift(dir)
    val drifted = new GraftEngine(spark, dir)
    assert(jobs(assert(drifted.renderErd("mermaid").contains("drift_note"))) === Seq.empty)
  }
}
