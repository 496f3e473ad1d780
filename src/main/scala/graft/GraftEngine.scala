package graft

import graft.analyze.{KeyClassifier, KeyColumn}
import graft.catalog.ParquetCatalog
import graft.core._
import graft.datatest.DataTester
import graft.detect.RelationshipDetector
import graft.render.ErdRenderer
import graft.state.{IncrementalState, RelationshipCache}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}

/** End-to-end engine facade — the reference's main pipeline (main.py:78-306,
  * SURVEY §3.1-3.2):
  *
  *   catalog (footer reads) → key classification → detection (all
  *   strategies ∪ → validate → resolve → top-k) → optional data testing with
  *   confidence adjustment → render / persist state.
  *
  * Everything up to the data test is catalog-scale and runs as plain Scala
  * on the driver, memoized as values in [[ParquetCatalog.memo]]: catalog,
  * classification, detection, render and the state and cache decisions
  * start no Spark job. The data test is the one stage sized by the data, and
  * the one that runs on Spark. Frames are built (locally) only where a
  * public method returns one.
  */
class GraftEngine(
    val spark: SparkSession,
    val dir: String,
    val customRules: Seq[CustomRule] = Nil,
    val namingRules: Seq[NamingRule] = Nil,
    val cfg: DetectionConfig = DetectionConfig()) {

  /** The catalog's tables, driver-resident; every metadata consumer below
    * reads this Seq.
    */
  lazy val tables: Seq[TableMeta] = ParquetCatalog.tables(spark, dir,
    includeViews = cfg.includeViews, includeExternal = cfg.includeExternal)

  lazy val catalog: Dataset[TableMeta] =
    spark.createDataset(tables)(GraftEngine.tableMetaEncoder)

  // Catalog-derived results live in ParquetCatalog's memo, keyed on what
  // they read: rules, config and the catalog's content (not its directory).
  private def memo[T <: AnyRef](kind: String, inputs: Any*)(build: => T): T =
    ParquetCatalog.memo(spark,
      (kind, customRules, namingRules, cfg, ParquetCatalog.contentKey(tables), inputs))(build)

  private lazy val keyColumns: Seq[KeyColumn] = memo("classify")(KeyClassifier.classify(tables, cfg))

  lazy val classifiedColumns: DataFrame =
    memo("classifiedFrame")(KeyClassifier.frame(spark, keyColumns))

  /** Name-based detection only (RelationshipDetector path, §3.1 step 4):
    * the in-memory tier of the reference's relationship cache
    * (relationship_cache.py:36-68 keeps a memory map in front of the disk
    * files; its ENHANCED_FEATURES.md advertises 50-90% faster subsequent
    * runs). Detection is pure catalog-metadata work, so the result is a few
    * hundred edges at most.
    */
  private lazy val detectedEdges: Seq[Relationship] =
    memo("detect")(RelationshipDetector.detect(keyColumns, customRules, namingRules, cfg))

  lazy val relationships: DataFrame =
    memo("detectFrame")(RelationshipCache.edgeFrame(spark, detectedEdges))

  // Data testing reads rows, so its results also key on the directory and
  // every table's part files.
  private def rowsRead: (String, Seq[Seq[(String, Long, Long)]]) =
    (dir, tables.map(t => ParquetCatalog.fileStamps(t.path)))

  /** Enhanced path (§3.2): detection + per-edge data testing + confidence
    * adjustment, keeping edges that survive the threshold on ADJUSTED
    * confidence (enhanced_relationship_detector.py:137-251).
    */
  def enhancedRelationships(): DataFrame =
    memo("enhanced", rowsRead)(enhancedRelationshipsUncached(Map.empty))

  /** Per-table adaptive sampling fractions (A10→S6): Cochran sample size
    * over each table's FOOTER row count — metadata only, no data scan. A
    * 10-row dim tests whole; a billion-row fact tests a few hundred rows.
    */
  def adaptiveSampleFractions(
      confidenceLevel: Double = 0.95, marginOfError: Double = 0.05): Map[String, Double] =
    tables.map(t =>
      t.tableName -> DataTester.cochranFraction(t.numRows, confidenceLevel, marginOfError)).toMap

  /** Enhanced path with the reference's adaptive sampling
    * (data_relationship_tester.py:328-358): every tested table samples at
    * its own Cochran fraction instead of the `dataTestSampleSize` one.
    */
  def enhancedRelationshipsAdaptive(
      confidenceLevel: Double = 0.95, marginOfError: Double = 0.05): DataFrame =
    memo("enhancedAdaptive", confidenceLevel, marginOfError, rowsRead) {
      enhancedRelationshipsUncached(adaptiveSampleFractions(confidenceLevel, marginOfError))
    }

  /** The uncached enhanced pipeline; `enhancedRelationships` memoizes it per
    * (session, rules, config, catalog, part files) — the reference caches
    * exactly this per-pair data-test outcome (relationship_cache.py:69-96,
    * 24 h TTL; cross-run persistence is `state.RelationshipCache`).
    */
  private def enhancedRelationshipsUncached(sampleFractions: Map[String, Double]): DataFrame = {
    // DataTestingConfig.enabled gate (enhanced_relationship_detector.py:86):
    // testing off → the name-detected edges pass through untested.
    if (!cfg.dataTestEnabled) return relationships
    val edges = detectedEdges // post-top-k: tiny
    if (edges.isEmpty) return relationships
    // DataTestingConfig.sample_size (the reference's per-endpoint LIMIT,
    // data_relationship_tester.py:115-121) as a per-table uniform fraction
    // over footer row counts — same bounded-work intent, partition-skew-free.
    val sizeFractions: Map[String, Double] =
      if (cfg.dataTestSampleSize <= 0) Map.empty
      else tables.map(t => t.tableName -> (
        if (t.numRows <= 0) 1.0
        else math.min(1.0, cfg.dataTestSampleSize.toDouble / t.numRows))).toMap
    val metrics = DataTester.testRelationships(
      spark, dir,
      edges.map(r => (r.sourceTable, r.sourceColumn, r.targetTable, r.targetColumn)),
      if (sampleFractions.nonEmpty) sampleFractions else sizeFractions)
    val meta = org.apache.spark.sql.functions.broadcast(relationships.select(
      "source_table", "source_column", "target_table", "target_column",
      "confidence", "relationship_type", "detection_method", "is_custom"))
    // Pin the per-edge metric rows local before the adjust/filter expressions:
    // the result is ≤ one row per post-top-k edge, and filtering on the
    // derived confidence over the live plan makes Catalyst inline the whole
    // metric expression tree into the pushed-down predicate (multi-second
    // optimizer blow-up for zero runtime benefit).
    val tested = ParquetCatalog.localized(metrics.join(
      meta, Seq("source_table", "source_column", "target_table", "target_column")))
    DataTester.adjustConfidence(tested, cfg)
      .filter(col("adjusted_confidence") >= cfg.minConfidence)
  }

  /** Render the detected graph in the requested dialect (§3.1 steps 5-6).
    * `layout` applies to drawio: grid | force | hierarchical (the
    * reference's table_layout config, models.py:120); so do the ERDConfig
    * display toggles (models.py:128-131): `showColumnTypes`, `showNullable`,
    * and `theme` (default | dark | minimal).
    */
  def renderErd(format: String, layout: String = "grid",
      showColumnTypes: Boolean = true, showNullable: Boolean = false,
      theme: String = "default"): String = {
    def keys(flag: KeyColumn => Boolean) =
      keyColumns.filter(flag).map(c => (c.tableName, c.columnName)).toSet
    val (pks, fks) = (keys(_.isPk), keys(_.isFk))
    format match {
      case "mermaid"  => ErdRenderer.mermaid(tables, detectedEdges, pks, fks)
      case "plantuml" => ErdRenderer.plantUml(tables, detectedEdges, pks)
      case "drawio"   => ErdRenderer.drawio(tables, detectedEdges, layout = layout,
        showColumnTypes = showColumnTypes, showNullable = showNullable, theme = theme)
      case other      => throw new IllegalArgumentException(s"unknown format: $other")
    }
  }

  /** Cross-run cached detection (relationship_cache.py:69-96): serve the
    * edge set from `cachePath` while entries are fresher than the
    * configured TTL (`performance.cache_ttl_hours` →
    * [[graft.core.DetectionConfig.cacheTtlHours]]); otherwise re-detect and
    * upsert. The cache file is catalog-scale (post-top-k edges), so the
    * driver reads it whole and decides freshness itself.
    */
  def relationshipsCached(
      cachePath: String, nowMs: Long = System.currentTimeMillis()): DataFrame = {
    if (!cfg.cacheEnabled) return relationships // performance.cache_enabled=false
    val cache = RelationshipCache.load(cachePath)
    // Serve the cache only when it is non-empty AND wholly fresh. A
    // mixed-age file (reachable via the per-pair RelationshipCache.put API)
    // must trigger re-detection: serving just the fresh subset would
    // silently drop the expired pairs from the edge set, where the
    // reference re-validates TTL per cache entry (relationship_cache.py).
    if (cache.nonEmpty && cache.forall(_.freshAt(nowMs, cfg.cacheTtlMs)))
      RelationshipCache.edgeFrame(spark, cache.map(_.edge))
    else {
      RelationshipCache.put(cachePath, cache, detectedEdges, nowMs, cfg.cacheTtlMs)
      relationships
    }
  }

  /** A8 — one-row statistics over this engine's processing state and
    * detected relationship graph (incremental_processor.py:182-204), plus
    * the relationship cache's fresh/expired split when `cachePath` is given
    * (relationship_cache.py:142-156). With no saved state the live catalog
    * stands in (every table processed "now"). Computed on the driver.
    */
  def stats(
      statePath: Option[String] = None,
      cachePath: Option[String] = None,
      nowMs: Long = System.currentTimeMillis()): DataFrame = {
    val state = statePath.map(IncrementalState.load).filter(_.nonEmpty)
      .getOrElse(IncrementalState.checksums(tables, nowMs))
    val cache = cachePath.toSeq.flatMap(p =>
      RelationshipCache.stats(RelationshipCache.load(p), nowMs, cfg.cacheTtlMs))
    IncrementalState.statsFrame(spark,
      IncrementalState.relationshipStats(state, detectedEdges) ++ cache: _*)
  }

  /** Incremental gate: tables whose schema changed since the stored state
    * (§3.2 step 1), as a local (table_name, schema_hash) frame.
    */
  def changedTables(statePath: String): DataFrame =
    IncrementalState.checksumFrame(spark, IncrementalState.changed(
      IncrementalState.checksums(tables, 0L), IncrementalState.load(statePath)))

  def saveProcessedState(statePath: String, nowMs: Long): Unit =
    IncrementalState.save(
      statePath, IncrementalState.checksums(tables, nowMs), IncrementalState.load(statePath))

  /** SQL surface: register every catalog table as a temp view and run ANSI
    * SQL against the lake — the `spark.sql` face of the engine (views are
    * lazy; Catalyst still sees the parquet scans for pushdown/pruning).
    */
  def sql(query: String): DataFrame = {
    registerViews()
    spark.sql(query)
  }

  def registerViews(): Unit =
    tables.foreach { t =>
      ParquetCatalog.read(spark, t.path).createOrReplaceTempView(t.tableName)
    }
}

object GraftEngine {
  /** Derived once: the reflective derivation costs more than the small
    * Dataset it encodes, and an engine is built per refresh.
    */
  private val tableMetaEncoder: Encoder[TableMeta] = Encoders.product[TableMeta]
}

/** CLI mirroring the reference's entry point options (main.py:119-151):
  *   graft.Main <dataDir> [--format mermaid|plantuml|drawio]
  *              [--out FILE] [--min-confidence X] [--max-per-table K]
  *              [--enhanced] [--state PATH]
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: graft.Main <dataDir> [--format mermaid|plantuml|drawio] " +
          "[--out FILE] [--min-confidence X] [--max-per-table K] [--enhanced] [--state PATH] " +
          "[--patterns relationship_patterns.json] [--rules relationship_rules.json] " +
          "[--layout grid|force|hierarchical] [--include-views] [--include-external] " +
          "[--theme default|dark|minimal] [--no-column-types] [--show-nullable] " +
          "[--stats] [--cache PATH] [--freeze OUTDIR] " +
          "[--drift REF_DATA_DIR] [--search term1,term2,...] [--card] [--anomalies] " +
          "[--coverage] [--compact-target ROWS] [--epoch-plan TOKEN_BUDGET] " +
          "[--admit QUOTA] [--leakage-safe-split] [--cap-sources TOKEN_BUDGET] " +
          "[--change-points] [--shard-balance N] [--source-concentration] " +
          "[--audience-overlap] [--packing-curve] " +
          "[--contamination-spans BENCH_DATA_DIR] " +
          "[--mask-contamination BENCH_DATA_DIR] [--tokenizer-economics] " +
          "[--dup-kcore K] [--shared-runs] [--image-near-dups TAU] " +
          "[--qoi-economics] [--scene-cuts THRESHOLD_MILLI] [--png-stats] " +
          "[--jpeg-stats] [--stream-hourly OUTDIR] [--state-store hdfs|rocksdb]")
      sys.exit(2)
    }
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  /** The whole CLI against a caller-owned session — split from [[main]]
    * (which owns session create/stop) so specs can drive every flag
    * end-to-end on the shared test session.
    */
  private[graft] def run(spark: SparkSession, args: Array[String]): Unit = {
    val dir = args(0)
    def opt(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val format = opt("--format").getOrElse("mermaid")
    // config precedence mirrors the reference (config.py:60-64): defaults,
    // then the pattern-config file, then explicit CLI flags on top
    val fileCfg = opt("--patterns")
      .map(p => ConfigLoader.loadPatternConfig(p))
      .getOrElse(DetectionConfig())
    val cfg = fileCfg.copy(
      minConfidence = opt("--min-confidence").map(_.toDouble).getOrElse(fileCfg.minConfidence),
      maxRelationshipsPerTable =
        opt("--max-per-table").map(_.toInt).getOrElse(fileCfg.maxRelationshipsPerTable),
      includeViews = args.contains("--include-views") || fileCfg.includeViews,
      includeExternal = args.contains("--include-external") || fileCfg.includeExternal)
    val (customRules, namingRules) =
      opt("--rules").map(ConfigLoader.loadCustomRules).getOrElse((Nil, Nil))

    {
      val engine = new GraftEngine(spark, dir, customRules, namingRules, cfg)
      val rels =
        if (args.contains("--enhanced")) engine.enhancedRelationships()
        else engine.relationships
      println(s"detected ${rels.count()} relationships:")
      rels.show(100, truncate = false)
      val erd = engine.renderErd(format, opt("--layout").getOrElse("grid"),
        showColumnTypes = !args.contains("--no-column-types"),
        showNullable = args.contains("--show-nullable"),
        theme = opt("--theme").getOrElse("default"))
      opt("--out") match {
        case Some(f) =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(f), erd)
          println(s"wrote $format ERD to $f")
        case None => println(erd)
      }
      opt("--state").foreach { p =>
        engine.saveProcessedState(p, System.currentTimeMillis())
        println(s"state saved to $p")
      }
      if (args.contains("--stats")) {
        println("processing stats:")
        engine.stats(opt("--state"), opt("--cache")).show(truncate = false)
      }
      // corpus freeze over the documents table: gate → dedup → split,
      // written as split-partitioned parquet + a release manifest
      opt("--freeze").foreach { outDir =>
        val docs = Tables.documents(spark, dir)
        val frozen = graft.ext.CorpusPipeline.freeze(docs)
        frozen.write.partitionBy("split")
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$outDir/corpus")
        val manifest = graft.ext.CorpusPipeline.freezeSummary(docs)
        manifest.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$outDir/manifest")
        println(s"frozen corpus written to $outDir/corpus (manifest at $outDir/manifest):")
        manifest.orderBy("split", "lang").show(50, truncate = false)
      }
      // language-mix drift of this dataDir's documents vs a reference
      // snapshot dir — the promote-or-rollback gate, on the CLI
      opt("--drift").foreach { refDir =>
        println(s"distribution drift vs $refDir (key = lang):")
        graft.ext.Drift.distributionDrift(
          Tables.documents(spark, refDir), Tables.documents(spark, dir), "lang")
          .orderBy(col("key")).show(50, truncate = false)
      }
      // integer tf-idf top-20 over the documents table
      opt("--search").foreach { terms =>
        val qs = terms.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        println(s"top documents for ${qs.mkString("[", ", ", "]")}:")
        graft.ext.Retrieval.searchTopK(Tables.documents(spark, dir), qs)
          .show(20, truncate = false)
      }
      // one-call corpus release summary over the documents table
      if (args.contains("--card")) {
        println("dataset card:")
        graft.ext.CorpusPipeline.datasetCard(Tables.documents(spark, dir))
          .show(20, truncate = false)
      }
      // rolling median/MAD spike flags over hourly event counts
      if (args.contains("--anomalies")) {
        println("event-rate anomalies (|x − median| > 3·MAD, trailing 24 h):")
        graft.ext.Drift.rollingMadAnomalies(
            graft.streaming.Sessions.hourlyAgg(Tables.events(spark, dir))
              .select(col("event_type"), col("hour"), col("n_events")),
            "event_type", "hour", "n_events")
          .filter(col("is_anomaly"))
          .orderBy(col("event_type"), col("hour"))
          .show(50, truncate = false)
      }
      // per-user feed silence report (≥6h holes) + coverage rollup
      if (args.contains("--coverage")) {
        println("coverage gaps (>= 6h silent periods per user):")
        graft.ops.Coverage.gaps(Tables.events(spark, dir))
          .orderBy(col("gap_us").desc).show(20, truncate = false)
        println("per-user coverage summary:")
        graft.ops.Coverage.coverageSummary(Tables.events(spark, dir))
          .orderBy(col("uncovered_us").desc).show(20, truncate = false)
      }
      // compaction plan for the documents table's source partitions
      opt("--compact-target").foreach { target =>
        println(s"compaction plan (target $target rows per output shard):")
        val parts = Tables.documents(spark, dir)
          .groupBy(col("source").as("part"))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
        graft.ops.Compaction.plan(parts, "part", "n", target.toLong)
          .orderBy("unit").show(100, truncate = false)
      }
      // dedup fairness + capacity: per-feed loss rate, yield growth curve
      if (args.contains("--dedup-audit")) {
        val docs = Tables.documents(spark, dir)
        println("per-source dedup loss (near-dup, jaccard >= 0.5):")
        graft.ext.Dedup.dedupRateBy(docs, "source")
          .orderBy(col("removed_fp").desc).show(30, truncate = false)
        println("dedup yield curve (pairs across nested subsamples):")
        graft.ext.Dedup.dedupYieldCurve(
            graft.ext.FuzzyJoin.setSimJoin(docs, tNum = 1, tDen = 2, shingleK = 3)
              .select("id_a", "id_b"))
          .orderBy("pct").show(truncate = false)
      }
      // classifier trustworthiness: reliability diagram + score AUC
      if (args.contains("--calibration")) {
        val docs = Tables.documents(spark, dir)
        println("langid reliability diagram (conf vs accuracy per bin):")
        val preds = graft.ext.TextAnalysis.langConfusion(docs)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        val denom = col("score_top") + col("score_second")
        val conf = when(denom > 0L,
          graft.ext.ExactMath.floorDiv(col("score_top") * lit(1048576L), denom))
          .otherwise(0L)
        graft.ext.Labeling.calibrationReport(
            preds, conf, col("lang_top") === col("lang"))
          .orderBy("bin").show(truncate = false)
      }
      // traffic shape: per-type inter-arrival moments + CV² burstiness
      if (args.contains("--traffic")) {
        println("inter-arrival profile per event type (CV² ≈ 2²⁰ = Poisson):")
        graft.ops.Coverage.interArrival(Tables.events(spark, dir))
          .orderBy("event_type").show(truncate = false)
      }
      // one-row release scorecard: every corpus gate with exact shares
      if (args.contains("--scorecard")) {
        println("release scorecard (code / mixed-language / near-dup / quality):")
        graft.ext.CorpusPipeline.releaseScorecard(Tables.documents(spark, dir))
          .show(truncate = false)
      }
      // BM25-saturated search over the documents table
      opt("--search-bm25").foreach { terms =>
        val qs = terms.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        println(s"BM25 top documents for ${qs.mkString("[", ", ", "]")}:")
        graft.ext.Retrieval.bm25TopK(Tables.documents(spark, dir), qs)
          .show(20, truncate = false)
      }
      // per-source epoch repeat factors under a total token budget
      opt("--epoch-plan").foreach { budget =>
        println(s"epoch plan (sqrt-weighted, budget $budget tokens, cap 4 epochs):")
        graft.ext.Sampling.epochPlan(
            Tables.documents(spark, dir), "source",
            org.apache.spark.sql.functions.size(
              org.apache.spark.sql.functions.split(col("text"), " ")).cast("long"),
            budgetTokens = budget.toLong)
          .orderBy("source").show(50, truncate = false)
      }
      // per-source quota admission (quality-ranked) with global backfill
      opt("--admit").foreach { quota =>
        println(s"quota admission ($quota docs per source, quality-ranked):")
        val docs = Tables.documents(spark, dir)
          .withColumn("quality", graft.ext.TextAnalysis.qualityScore(col("text")))
        graft.ext.Sampling
          .admitWithQuota(docs, "source", "doc_id", "quality", quota.toLong)
          .groupBy("source")
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_admitted"))
          .orderBy("source").show(50, truncate = false)
      }
      // near-dup-cluster-atomic train/val/test split summary
      if (args.contains("--leakage-safe-split")) {
        println("leakage-safe split (near-dup clusters never straddle splits):")
        graft.ext.Sampling
          .leakageSafeSplit(Tables.documents(spark, dir), minJaccard = 0.5)
          .groupBy("split")
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_docs"))
          .orderBy("split").show(truncate = false)
      }
      // source mix: concentration verdict + waterfilling cap plan
      opt("--cap-sources").foreach { budget =>
        println(s"source concentration + waterfilling caps (budget $budget tokens):")
        graft.ext.Sampling.sourceConcentration(Tables.documents(spark, dir))
          .show(truncate = false)
        graft.ext.Sampling
          .capSources(Tables.documents(spark, dir), budget.toLong)
          .orderBy(col("n_tokens").desc, col("source"))
          .show(50, truncate = false)
      }
      // per-event-type rate change points
      if (args.contains("--change-points")) {
        println("rate change points per event type (CUSUM peak):")
        graft.ext.Drift.changePoint(Tables.events(spark, dir))
          .orderBy("event_type").show(truncate = false)
      }
      // per-shard doc/token mass + signed deviation before publishing
      opt("--shard-balance").foreach { n =>
        println(s"shard balance audit ($n shards; dev_num = n_tokens*S - total):")
        graft.ext.Sampling.shardBalance(Tables.documents(spark, dir), n.toInt)
          .orderBy("shard").show(n.toInt, truncate = false)
      }
      // one-row source-mix concentration verdict (HHI + top share)
      if (args.contains("--source-concentration")) {
        println("source concentration (hhi_fp: 2^20/S balanced .. 2^20 single-source):")
        graft.ext.Sampling.sourceConcentration(Tables.documents(spark, dir))
          .show(truncate = false)
      }
      // per-capacity packing cost (bins / straddles / waste / fill)
      if (args.contains("--packing-curve")) {
        println("packing-capacity curve over the documents table:")
        graft.ops.Packing.packingCurve(
            Tables.documents(spark, dir).select(col("doc_id"),
              org.apache.spark.sql.functions.size(
                org.apache.spark.sql.functions.split(col("text"), " "))
                .cast("long").as("n_tokens")),
            "doc_id", "n_tokens")
          .orderBy("capacity").show(truncate = false)
      }
      // exact per-event-type-pair user overlap + Jaccard
      if (args.contains("--audience-overlap")) {
        println("audience overlap per event-type pair (distinct users):")
        graft.ops.Coverage.audienceOverlap(Tables.events(spark, dir))
          .orderBy(col("jaccard_fp").desc, col("type_a"), col("type_b"))
          .show(50, truncate = false)
      }
      // verbatim-run contamination triage vs a benchmark snapshot dir
      opt("--contamination-spans").foreach { benchDir =>
        println(s"contaminated spans vs $benchDir (longest verbatim 3-gram runs):")
        graft.ext.Decontaminate.contaminatedSpans(
            Tables.documents(spark, dir), Tables.documents(spark, benchDir))
          .orderBy(col("longest_run").desc, col("doc_id"))
          .show(30, truncate = false)
      }
      // ACT on the span report: per-doc masking manifest (counts + digest
      // of the rewritten text) — the surgical alternative to dropping docs
      opt("--mask-contamination").foreach { benchDir =>
        println(s"contamination masking manifest vs $benchDir (one-for-one token masks):")
        graft.ext.Decontaminate.maskContaminatedSpans(
            Tables.documents(spark, dir), Tables.documents(spark, benchDir))
          .filter(col("n_masked") > 0)
          .orderBy(col("n_masked").desc, col("doc_id"))
          .show(30, truncate = false)
      }
      // exact longest shared verbatim run per near-dup candidate pair
      if (args.contains("--shared-runs")) {
        println("exact longest shared token runs per winnow-anchored pair:")
        graft.ext.Dedup.winnowSharedRuns(Tables.documents(spark, dir))
          .orderBy(col("longest_run").desc, col("id_a"), col("id_b"))
          .show(30, truncate = false)
      }
      // dense center of the duplication graph (template farms)
      opt("--dup-kcore").foreach { k =>
        println(s"$k-core of the near-dup graph (survivors + in-core degree):")
        graft.ext.GraphStats.kCore(
            graft.ext.Dedup.nearDuplicates(Tables.documents(spark, dir), minJaccard = 0.5)
              .select(col("id_a"), col("id_b")),
            k.toInt)
          .orderBy(col("core_degree").desc, col("id"))
          .show(30, truncate = false)
      }
      // per-source byte/char/token mass + compression + fertility ratios
      if (args.contains("--tokenizer-economics")) {
        println("tokenizer economics per source (ratios in 2^20 fixed point):")
        graft.ext.TextAnalysis.tokenizerEconomics(Tables.documents(spark, dir))
          .orderBy(col("bytes_per_token_fp").desc)
          .show(50, truncate = false)
      }
      // perceptual near-dup image pairs (documents-as-BMP stand-in for a
      // real asset table): dHash + lossless band LSH at the given radius
      opt("--image-near-dups").foreach { tauArg =>
        // validate at the CLI boundary: the band join's losslessness
        // guarantee holds only for tau <= 7, and a raw NumberFormatException
        // is not guidance
        val tau = scala.util.Try(tauArg.toInt).toOption
          .filter(t => t >= 0 && t <= 7)
          .getOrElse(sys.error(
            s"--image-near-dups TAU must be an integer in 0..7 " +
              s"(8-band LSH is lossless only there), got: $tauArg"))
        println(s"perceptual near-dup image pairs (128-bit dHash hamming <= $tau):")
        graft.ext.Multimodal.dhashNearDup(
            graft.ext.Multimodal.bmpDHash128(
              graft.ext.Multimodal.encodeBmp(
                graft.ext.Multimodal.documentsAsAssets(
                  Tables.documents(spark, dir)), width = 16)
                // materialization boundary between the synthesized-bytes
                // producer and the decode, per Multimodal's composition
                // note — without it scan-collapse inlines the whole encode
                // expression into every header-byte access (the
                // --scene-cuts path's discipline)
                .repartition(col("asset_id")).localCheckpoint()),
            maxHamming = tau)
          .orderBy(col("hamming"), col("asset_a"), col("asset_b"))
          .show(30, truncate = false)
      }
      // video scene-cut report through the real Y4M container parse
      // (documents-as-Y4M stand-in; real video lakes feed y4mSceneCuts
      // off a storage scan)
      opt("--scene-cuts").foreach { thr =>
        val t = scala.util.Try(thr.toLong).toOption.filter(_ >= 0)
          .getOrElse(sys.error(
            s"--scene-cuts THRESHOLD_MILLI must be a non-negative integer, got: $thr"))
        println(s"video scene cuts (|mean-luma delta| >= $t milli):")
        graft.ext.Multimodal.y4mSceneCuts(
            graft.ext.Multimodal.encodeY4m(
              graft.ext.Multimodal.documentsAsAssets(
                Tables.documents(spark, dir)))
              .repartition(col("asset_id")).localCheckpoint(),
            thresholdMilli = t)
          .orderBy(col("delta_milli").desc, col("asset_id"), col("frame_idx"))
          .show(30, truncate = false)
      }
      // per-source QOI compression economics through the real codec
      if (args.contains("--qoi-economics")) {
        println("QOI compression economics per source (ratio in micro-units):")
        graft.ext.Multimodal.qoiCompressionBySource(
            graft.ext.Multimodal.documentsAsAssets(Tables.documents(spark, dir)))
          .orderBy(col("compression_micro"))
          .show(50, truncate = false)
      }
      // lossless-JPEG decode report: real Huffman entropy decoding
      // (documents-as-JPEG stand-in; real image lakes feed jpegStats off
      // a storage scan)
      if (args.contains("--jpeg-stats")) {
        println("lossless-JPEG decode stats (DHT parse + Huffman bitstream + prediction):")
        graft.ext.Multimodal.jpegStats(
            graft.ext.Multimodal.encodeJpegLossless(
              graft.ext.Multimodal.documentsAsAssets(
                Tables.documents(spark, dir)), width = 40)
              .repartition(col("asset_id")).localCheckpoint())
          .orderBy(col("asset_id"))
          .show(30, truncate = false)
      }
      // baseline (lossy, DCT) JPEG decode report: genuine T.81
      // sequential-DCT decoding — what real image lakes overwhelmingly
      // hold (documents-as-JPEG stand-in; real lakes feed jpegDctStats
      // off a storage scan)
      if (args.contains("--jpeg-dct-stats")) {
        println("baseline-DCT JPEG decode stats (DQT/DHT parse + entropy decode + IDCT):")
        graft.ext.Multimodal.jpegDctStats(
            graft.ext.Multimodal.encodeJpegDct(
              graft.ext.Multimodal.documentsAsAssets(
                Tables.documents(spark, dir)), width = 8)
              .repartition(col("asset_id")).localCheckpoint())
          .orderBy(col("asset_id"))
          .show(30, truncate = false)
      }
      // PNG decode report through the real entropy-coded codec
      // (documents-as-PNG stand-in; real image lakes feed pngStats off a
      // storage scan)
      if (args.contains("--png-stats")) {
        println("PNG decode stats (CRC-verified chunk walk + inflate + unfilter):")
        graft.ext.Multimodal.pngStats(
            graft.ext.Multimodal.encodePng(
              graft.ext.Multimodal.documentsAsAssets(
                Tables.documents(spark, dir)), width = 6)
              .repartition(col("asset_id")).localCheckpoint())
          .orderBy(col("asset_id"))
          .show(30, truncate = false)
      }
      // end-to-end streaming demo: the exactly-once parquet path
      // (checkpointed offsets + _spark_metadata commit log) over the
      // watermarked hourly aggregation, with the state-store provider
      // selectable — `--state-store rocksdb` runs the 100 TB state path
      // (disk-backed state, bounded executor heap) instead of the default
      // HDFS-backed in-heap store. The provider pins into the query's
      // checkpoint at start, which is why it is a flag on THIS run, not
      // session config (see streaming/StateBackend).
      opt("--stream-hourly").foreach { outBase =>
        val provider = opt("--state-store").getOrElse("hdfs") match {
          case "rocksdb" => graft.streaming.StateBackend.RocksDb
          case "hdfs" =>
            "org.apache.spark.sql.execution.streaming.state." +
              "HDFSBackedStateStoreProvider"
          case other =>
            throw new IllegalArgumentException(
              s"--state-store must be hdfs or rocksdb, got $other")
        }
        println(s"streaming hourly aggregation -> $outBase/out " +
          s"(state store: ${provider.split('.').last}):")
        graft.streaming.StateBackend.using(spark, provider) {
          val q = graft.streaming.EventStream.writeToParquet(
            graft.streaming.EventStream.hourlyAggStream(
              graft.streaming.EventStream.readEvents(spark, dir)),
            s"$outBase/out", s"$outBase/checkpoint")
          q.processAllAvailable()
          q.stop()
        }
        val outDf = spark.read.parquet(s"$outBase/out")
        println(s"rows written: ${outDf.count()}")
        outDf.orderBy(col("hour"), col("event_type")).show(10, truncate = false)
      }
    }
  }
}
