package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.core.DetectionConfig
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class GraftSessionSpec extends SparkSpec {

  test("the builder ships a codegen cache sized for a warm session's working set") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a warm session compiles nothing and runs no Spark job on repeated ERD refreshes, TTL-expired ones included") {
    val dir = Files.createTempDirectory("graft_warm").toString
    val (state, cache) = (s"$dir/state", s"$dir/cache")
    val ttlMs = DetectionConfig().cacheTtlMs
    var nowMs = 1700000000000L
    def refresh(advanceMs: Long): Unit = {
      nowMs += advanceMs
      val engine = new GraftEngine(spark, sf0001)
      engine.changedTables(state).collect()
      assert(engine.relationshipsCached(cache, nowMs).collect().nonEmpty)
      assert(engine.renderErd("mermaid").contains("erDiagram"))
      engine.saveProcessedState(state, nowMs)
    }
    // one round: a refresh served from the cache, then one past its TTL
    def round(): Unit = { refresh(ttlMs / 2); refresh(ttlMs + 1) }
    // a cached frame with the same rows (another suite's checksums) would
    // answer the local frames here through an in-memory scan job
    spark.catalog.clearCache()
    refresh(0L) // cold: first detection, state and cache files written
    round() // warm-up
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // (description, call site) of every job started while listening
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.map(_.getProperty(k, "")).getOrElse("")
        jobs.add((prop("spark.job.description"), prop("callSite.short")))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      round()
      round()
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles)
      // listener events arrive in order: once this marker job is seen, every
      // job the rounds started has been seen too
      spark.sparkContext.setJobDescription("marker")
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def marked = jobs.asScala.exists(_._1 == "marker")
      while (!marked && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked)
      // state, cache and render are catalog-scale and served on the driver
      assert(jobs.asScala.takeWhile(_._1 != "marker").map(_._2).toSeq === Seq.empty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("warm ERD refreshes start no SQL execution beyond the caller's own collects") {
    val dir = Files.createTempDirectory("graft_warm_sql").toString
    val (state, cache) = (s"$dir/state", s"$dir/cache")
    val ttlMs = DetectionConfig().cacheTtlMs
    var nowMs = 1700000000000L
    def refresh(advanceMs: Long): Unit = {
      nowMs += advanceMs
      val engine = new GraftEngine(spark, sf0001)
      val changed = engine.changedTables(state)
      val rels = engine.relationshipsCached(cache, nowMs)
      changed.collect() // the caller's own collects, from this file
      assert(rels.collect().nonEmpty)
      assert(engine.renderErd("mermaid").contains("erDiagram"))
      engine.saveProcessedState(state, nowMs)
    }
    // one round: a refresh served from the cache, then one past its TTL
    def round(): Unit = { refresh(ttlMs / 2); refresh(ttlMs + 1) }
    refresh(0L)
    round()
    val started = startedBy { round(); round() }
    val own = started.filter(_._2.startsWith("collect at GraftSessionSpec.scala"))
    assert(own.map(_._1) === Seq.fill(8)("sql"))
    assert(started === own)
  }

  test("engine stats at a new probe time compile nothing and start no Spark job") {
    val cache = Files.createTempDirectory("graft_stats_probe").toString + "/cache"
    val t0 = 1700000000000L
    val engine = new GraftEngine(spark, sf0001)
    engine.relationshipsCached(cache, t0)
    def probe(nowMs: Long): Long = engine.stats(cachePath = Some(cache), nowMs = nowMs)
      .collect().head.getAs[Long]("n_cache_fresh")
    assert(probe(t0) === 7L) // warm-up: every detected edge is fresh
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val started = startedBy(assert(probe(t0 + 25L * 3600 * 1000) === 0L))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles)
    assert(started.filter(_._1 == "job") === Seq.empty)
  }
}
