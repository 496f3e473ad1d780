package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is an operator from SURVEY §2 (or a north-star
  * extension); `oracleSql` carries the DuckDB-equivalent SQL the driver uses
  * as a correctness oracle at sf0.01.
  *
  * Numeric-parity convention: any aggregated DOUBLE flows through a
  * DECIMAL(18,4) cast before SUM so the aggregate is exact and
  * order-independent, then back to DOUBLE — Spark and DuckDB then agree
  * bit-for-bit, regardless of partitioning / summation order.
  */
object SparkEntry {

  import graft.catalog.ParquetCatalog
  import graft.core.CustomRule
  import graft.datatest.DataTester
  import graft.detect.RelationshipDetector

  /** Exact, order-independent sum of a double column, returned as double. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ catalogQueries ++ extQueries

  // --------------------------------------------------------------------
  // North-star extension queries: text analysis, dedup, similarity search,
  // event analytics (SURVEY §7.1 ext/). All stay inside WholeStageCodegen
  // (built-in expressions only) and shuffle digests/keys, never raw text.
  // --------------------------------------------------------------------
  private def extQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting + quality scoring over documents (length/punct/stopword
    // heuristics; integer-exact arithmetic → engine-portable).
    "q17_text_stats" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      TextAnalysis.withQualityMetrics(Tables.documents(s, dir))
        .select(
          col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("avg_token_len"), col("alpha_ratio"), col("stopword_ratio"),
          col("quality_score"))
    },
    // Language-ID by marker-token scores, argmax with deterministic ties.
    "q18_langid" -> { (s, dir) =>
      import graft.ext.TextAnalysis._
      val d = Tables.documents(s, dir)
      val scoreCols = langMarkers.map { case (l, ms) =>
        langScore(col("text"), ms).as(s"score_$l")
      }
      d.select((col("doc_id") +: scoreCols :+ langId(col("text")).as("lang_pred")): _*)
    },
    // Content fingerprinting (normalized digest).
    "q19_fingerprint" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    },
    // MinHash signatures (4 portable hash functions over 3-shingles) — the
    // signature stage of minhash-LSH near-dup detection.
    "q20_minhash_signatures" -> { (s, dir) =>
      import graft.ext.Dedup
      Dedup.minhashSignatures(Tables.documents(s, dir), numHashes = 4)
    },
    // Exact n-gram Jaccard similarity across a bounded doc slice: the
    // verify stage of near-dup detection (shingle equi-join, no cross
    // product).
    "q21_ngram_jaccard" -> { (s, dir) =>
      import graft.ext.Dedup
      Dedup.ngramJaccard(
        Tables.documents(s, dir).filter(col("doc_id") < 50))
    },
    // Embedding near-dup pairs above a cosine threshold: hyperplane-LSH
    // bucketed candidates (equi-join, nothing broadcast) + exact-cosine
    // verify on candidates only — the embedding twin of q38's
    // minhash→LSH→verify layout. Cost-based dispatch: broadcast nested-loop
    // below the small-corpus cutover, LSH-blocked candidates above it; both
    // paths yield the identical pair set (SimilaritySpec asserts the LSH
    // path equals the exact cross-product path at this threshold).
    "q22_cosine_pairs" -> { (s, dir) =>
      import graft.ext.Similarity
      Similarity.cosinePairsAboveAuto(Tables.embeddings(s, dir), 0.35)
    },
    // Brute-force cosine top-k for a probe set (broadcast queries; corpus
    // streams map-side).
    "q23_cosine_topk" -> { (s, dir) =>
      import graft.ext.Similarity
      val emb = Tables.embeddings(s, dir)
      Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
    },
    // Tumbling-window event aggregation (hour × event_type).
    "q24_events_hourly" -> { (s, dir) =>
      graft.streaming.Sessions.hourlyAgg(Tables.events(s, dir))
    },
    // §2.8 stream-stream interval join, batch twin: purchases × same-user
    // clicks within the preceding 30 min, aggregated per purchase. The
    // EXACT same intervalJoin plan runs as a two-stream watermarked join in
    // EventStreamSpec (watermarks are optimizer-eliminated here in batch).
    "q55_interval_join" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      graft.streaming.EventStream.intervalJoin(ev, ev)
        .groupBy(col("purchase_id"), col("user_id"))
        .agg(
          count(col("click_id")).as("n_clicks_30m"),
          max(col("click_id")).as("last_click_id"))
    },
    // LEFT OUTER interval join (E98): q55 plus the organic purchases —
    // batch twin of the streaming outer join whose null-padded rows emit
    // after the click watermark passes (EventStreamSpec).
    "q138_interval_join_outer" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      graft.streaming.EventStream.intervalJoinOuter(ev, ev)
        .groupBy(col("purchase_id"), col("user_id"))
        .agg(
          count(col("click_id")).as("n_clicks_30m"),
          max(col("click_id")).as("last_click_id"))
    },
    // Sessionization: inactivity-gap sessions per user.
    "q25_sessionize" -> { (s, dir) =>
      graft.streaming.Sessions.sessionize(Tables.events(s, dir))
        .select("user_id", "session_idx", "session_start_us", "session_end_us",
          "n_events", "duration_us")
    },
    // Semi-structured extraction: JSON prop aggregated per event type.
    "q26_json_extract" -> { (s, dir) =>
      Tables.events(s, dir)
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
    },
    // Multi-level aggregation: ROLLUP over status × priority (A7's
    // quality-report shape).
    "q27_rollup_report" -> { (s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double").as("sum_price"))
    },
    // F5/S9: incremental change-detection checksums — md5 over the canonical
    // schema string per table (engine-portable; the gate against stored
    // state is tested in IncrementalStateSpec).
    "q28_schema_checksums" -> { (s, dir) =>
      import graft.state.IncrementalState
      IncrementalState.checksumFrame(s,
        IncrementalState.checksums(ParquetCatalog.tables(s, dir), nowMs = 0L))
    },
    // A8: incremental-state + relationship-cache statistics
    // (incremental_processor.py:182-204, relationship_cache.py:142-156) as
    // one summary row. The state is the full catalog processed at a fixed
    // epoch; the cache holds the detected edge set with high-confidence
    // (≥0.95) pairs refreshed 10h later, probed 30h in — so the TTL split
    // (fresh=refreshed, expired=rest) is deterministic and oracle-derivable
    // from the same first-principles detection CTEs as q15.
    "q53_state_stats" -> { (s, dir) =>
      import graft.state.{CachedEdge, IncrementalState, RelationshipCache}
      val t0 = 1700000000000L
      val state = IncrementalState.checksums(ParquetCatalog.tables(s, dir), t0)
      val rels = RelationshipCache.collectEdges(
        RelationshipDetector.detect(classifiedCols(s, dir), lakeCustomRules))
      val cache = rels.map(r =>
        CachedEdge(r, if (r.confidence >= 0.95) t0 + 10L * 3600 * 1000 else t0))
      val cacheStats = RelationshipCache.stats(
        cache, nowMs = t0 + 30L * 3600 * 1000, ttlMs = 24L * 3600 * 1000)
      IncrementalState.statsFrame(s,
        IncrementalState.relationshipStats(state, rels) ++ cacheStats: _*)
    },
    // F10/S11: ERD rendering — mermaid over a 3-table slice of the detected
    // graph, returned as a single (format, erd) row and golden-checked.
    "q29_render_mermaid" -> { (s, dir) =>
      import graft.render.ErdRenderer
      val m = renderModel(s, dir)
      import s.implicits._
      Seq(("mermaid", ErdRenderer.mermaid(m.tables, m.rels, m.pks, m.fks)))
        .toDF("format", "erd")
    },
    // F10 variant: PlantUML dialect over the same 3-table slice.
    "q31_render_plantuml" -> { (s, dir) =>
      import graft.render.ErdRenderer
      val m = renderModel(s, dir)
      import s.implicits._
      Seq(("plantuml", ErdRenderer.plantUml(m.tables, m.rels, m.pks)))
        .toDF("format", "erd")
    },
    // SimHash signatures: 60-bit sign-aggregated token hashes (one explode +
    // one 60-sum aggregation; near-dup = small hamming distance).
    "q32_simhash" -> { (s, dir) =>
      import graft.ext.Dedup
      Dedup.simhash(Tables.documents(s, dir))
    },
    // §3.2: the ENHANCED pipeline end-to-end — detect, data-test every edge,
    // adjust confidence, re-filter on the adjusted value.
    "q33_enhanced_detect" -> { (s, dir) =>
      new graft.GraftEngine(s, dir, customRules = lakeCustomRules)
        .enhancedRelationships()
        .select("source_table", "source_column", "target_table", "target_column",
          "detection_method", "data_validated", "adjusted_confidence")
    },
    // W6: analytic window frames — per-customer running order total and
    // order sequence (rowsBetween frame + lag), deterministic total order.
    "q34_running_totals" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      Tables.orders(s, dir)
        .filter($"o_custkey" < 100)
        .select(
          $"o_custkey", $"o_orderkey",
          row_number().over(w).as("order_seq"),
          sum($"o_totalprice".cast(DecimalType(18, 4)))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double").as("running_total"),
          lag($"o_orderkey", 1).over(w).as("prev_orderkey"))
    },
    // A7 full shape: CUBE over two dimensions — all four grouping sets in
    // one pass (the quality report's method × band breakdowns).
    "q35_cube_report" -> { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .cube($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
    },
    // W3/W4: ordered limit — compiles to TakeOrderedAndProject (per-partition
    // top-N + driver merge, no global sort shuffle). Unique sort key keeps
    // the row set deterministic for the oracle.
    "q37_ordered_limit" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .select($"o_orderkey", $"o_totalprice", $"o_orderdate")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(20)
    },
    // SQL surface: ANSI SQL through GraftEngine.sql over registered lake
    // views — Catalyst still sees the parquet scans (pushdown intact).
    "q36_sql_surface" -> { (s, dir) =>
      new graft.GraftEngine(s, dir).sql(
        """SELECT c_mktsegment,
          |       COUNT(*) AS n_orders,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
          |FROM customer JOIN orders ON o_custkey = c_custkey
          |WHERE o_orderstatus <> 'F'
          |GROUP BY c_mktsegment""".stripMargin)
    },
    // §2.9 SQL face of the text operators: the scalars GraftExtensions
    // injects (token/BPE counts, language-ID, fingerprint, quality) run
    // inside `spark.sql` over the lake views — the SAME Column trees as
    // q17/q18/q19/q41, reached through the SQL surface instead of the
    // DataFrame API, so SQL-only users get the full text stack.
    "q56_sql_text" -> { (s, dir) =>
      new graft.GraftEngine(s, dir).sql(
        """SELECT doc_id,
          |       graft_lang_id(text) AS lang_pred,
          |       graft_token_count(text) AS n_tokens,
          |       graft_bpe_count(text) AS n_bpe_tokens,
          |       graft_fingerprint(text) AS fp,
          |       graft_quality(text) AS quality_score
          |FROM documents""".stripMargin)
    },
    // Repetition metrics + keep/drop corpus filter: mode-of-bag and dup
    // n-gram fractions as per-row array expressions — zero shuffle, exact
    // integer ratios.
    "q62_repetition_filter" -> { (s, dir) =>
      graft.ext.TextAnalysis.withRepetitionMetrics(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("top_unigram_n"),
          col("top_unigram_frac"), col("n_trigrams"),
          col("n_distinct_trigrams"), col("dup_trigram_ratio"), col("keep"))
    },
    // MinHash+LSH near-dup END TO END: shingle → 16-hash minhash signature →
    // 4-band LSH → bucket equi-join → candidate pairs → exact-Jaccard verify.
    // Only same-bucket docs ever meet (no O(n²) pair space), and the verify
    // join touches candidate pairs only — the 100 TB near-dup layout.
    "q38_near_dups" -> { (s, dir) =>
      import graft.ext.Dedup
      Dedup.nearDuplicates(Tables.documents(s, dir), minJaccard = 0.5)
    },
    // F10 variant 3: draw.io mxfile XML over the same 3-table slice.
    "q39_render_drawio" -> { (s, dir) =>
      import graft.render.ErdRenderer
      val m = renderModel(s, dir)
      import s.implicits._
      Seq(("drawio", ErdRenderer.drawio(m.tables, m.rels))).toDF("format", "erd")
    },
    // ANN scale path: random-hyperplane LSH buckets, brute force WITHIN
    // buckets only, 2 tables for recall. Fully oracle-checked: the plane
    // weights are deterministic functions of (seed, dim), so the oracle
    // re-derives the same literals and replays the whole pipeline in SQL.
    "q40_ann_lsh" -> { (s, dir) =>
      import graft.ext.Similarity
      Similarity.lshTopK(Tables.embeddings(s, dir), k = 5, dim = 64)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
    },
    // As-of join (union+window, zero joins): every purchase event picks up
    // the same user's latest click at or before it — the feature-lookup /
    // backfill primitive. Clicks pre-aggregated to one per (user, ts) for
    // deterministic tie-breaks; DuckDB's native ASOF JOIN is the oracle.
    "q46_asof_join" -> { (s, dir) =>
      import graft.ops.AsOfJoin
      import graft.streaming.Sessions
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      AsOfJoin.asOf(purchases, clicks, "user_id", "ts", "ts", Seq("click_id", "ts"))
        .select(
          col("event_id").as("purchase_id"), col("user_id"),
          Sessions.nsToTimestamp(col("ts")).as("purchase_ts"),
          col("asof_click_id").as("last_click_id"),
          Sessions.nsToTimestamp(col("asof_ts")).as("last_click_ts"))
    },
    // Vocabulary building: top-20 unigrams and bigrams by corpus frequency
    // (the tokenizer-training primitive; deterministic ties by gram asc).
    "q52_vocabulary" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      TextAnalysis.vocabulary(Tables.documents(s, dir), maxN = 2, topK = 20)
    },
    // Embedding-cosine near-dup clusters: cosine pairs above threshold →
    // connected components → canonical vector per cluster (the embedding
    // flavour of q44's text-shingle cluster dedup).
    "q51_embedding_dedup_clusters" -> { (s, dir) =>
      import graft.ext.{Dedup, Similarity}
      val pairs = Similarity.cosinePairsAboveAuto(Tables.embeddings(s, dir), 0.35)
        .select("id_a", "id_b")
      Dedup.dedupClusters(pairs)
        .select(col("id").as("vec_id"), col("canonical_id"))
    },
    // Corpus balancing: ~100 docs per predicted language via DETERMINISTIC
    // hash-gated sampling (md5(doc_id) mod 10^6 under the per-stratum
    // fraction) — reproducible across engines/partitionings/retries, so the
    // selected rows themselves are oracle-checked; the RNG sampleBy variant
    // stays available as Sampling.balanced (SamplingSpec).
    "q50_balanced_sample" -> { (s, dir) =>
      import graft.ext.{Sampling, TextAnalysis}
      val docs = Tables.documents(s, dir)
        .withColumn("lang", TextAnalysis.langId(col("text")))
      Sampling.balancedDeterministic(docs, "lang", targetPerStratum = 100L, idCol = "doc_id")
        .select("doc_id", "lang")
    },
    // Curriculum selection: top-3 documents per predicted language by
    // quality score (language-ID × quality scoring × per-group top-k —
    // the "pick the best docs per language bucket" step of corpus curation).
    "q49_best_docs_per_lang" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      val scored = TextAnalysis
        .withQualityMetrics(Tables.documents(s, dir))
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      val w = Window.partitionBy("lang_pred")
        .orderBy(col("quality_score").desc, col("doc_id").asc)
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("lang_pred"), col("rk"), col("doc_id"),
          round(col("quality_score"), 6).as("quality_score"))
    },
    // Corpus-level stats for a training-data pipeline: exact interpolated
    // token-length percentiles + means over the whole documents table (one
    // aggregation pass; percentile() is exact, matching DuckDB's
    // quantile_cont definition).
    "q48_corpus_stats" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      Tables.documents(s, dir)
        .select(TextAnalysis.tokenCount(col("text")).cast("double").as("n_tokens"),
          length(col("text")).cast("double").as("n_chars"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg("n_tokens"), 6).as("avg_tokens"),
          round(avg("n_chars"), 6).as("avg_chars"),
          round(expr("percentile(n_tokens, 0.5)"), 6).as("p50_tokens"),
          round(expr("percentile(n_tokens, 0.9)"), 6).as("p90_tokens"),
          round(expr("percentile(n_tokens, 0.99)"), 6).as("p99_tokens"))
    },
    // Range join (bucketed, no equi key): assign every event to the
    // "busy windows" containing it — intervals spanning [busiest hour −30min,
    // +90min), derived from the data itself so both engines agree. Interval
    // bucketing turns the inequality join into an equi-join on bucket id.
    "q47_range_join" -> { (s, dir) =>
      import graft.ops.RangeJoin
      val hourNs = 3600L * 1000000000L
      val ev = Tables.events(s, dir)
      val windows = ev
        .groupBy(expr(s"ts div $hourNs").as("hour_bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("hour_bucket").asc)
        .limit(5)
        .select(
          col("hour_bucket").as("win_id"),
          (col("hour_bucket") * hourNs - hourNs / 2).as("win_start"),
          (col("hour_bucket") * hourNs + hourNs * 3 / 2).as("win_end"))
      RangeJoin.pointInInterval(
          ev.select("event_id", "ts"), windows, "ts", "win_start", "win_end",
          bucketWidth = hourNs)
        .select(col("event_id"), col("win_id"))
    },
    // A7: relationship quality report over the detected edge set — counts
    // per confidence band / detection method / relationship type + totals.
    "q45_quality_report" -> { (s, dir) =>
      // detection returns the post-top-k edges as a local frame, so the
      // report's five reads (3 dims + 2 totals) re-derive nothing
      RelationshipDetector.qualityReport(
        RelationshipDetector.detect(classifiedCols(s, dir), customRules = lakeCustomRules))
    },
    // Duplicate-cluster resolution: connected components over the near-dup
    // pair graph; every clustered doc maps to the min reachable doc id (the
    // "keep one per cluster" step of a dedup pipeline).
    "q44_dedup_clusters" -> { (s, dir) =>
      import graft.ext.Dedup
      val pairs = Dedup.nearDuplicates(Tables.documents(s, dir), minJaccard = 0.5)
        .select("id_a", "id_b")
      Dedup.dedupClusters(pairs)
        .select(col("id").as("doc_id"), col("canonical_id"))
    },
    // Keep-best dedup: the full near-dup pipeline ending in ONE kept
    // document per cluster (quality argmax, id tiebreak) — the
    // deduplicated-corpus manifest a training pipeline actually ships.
    "q58_canonical_docs" -> { (s, dir) =>
      import graft.ext.{Dedup, TextAnalysis}
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.nearDuplicates(docs, minJaccard = 0.5).select("id_a", "id_b")
      Dedup.keepBest(docs, Dedup.dedupClusters(pairs),
          TextAnalysis.qualityScore(col("text")))
        .select(col("cluster_id"), col("kept_doc_id"), col("n_members"),
          round(col("kept_quality"), 6).as("kept_quality"))
    },
    // Symmetric int8 embedding quantization — per-vector scale + quantized
    // values, emitted as engine-portable scalars (digest/sum/min/max of the
    // int array) so the whole row hash-matches the DuckDB replay.
    "q57_embedding_quantize" -> { (s, dir) =>
      import graft.ext.Similarity
      Similarity.quantizeInt8(Tables.embeddings(s, dir))
        .select(
          col("vec_id"), round(col("scale"), 6).as("scale"),
          md5(concat_ws(",", transform(col("qvec"), _.cast("string"))))
            .as("q_digest"),
          aggregate(col("qvec"), lit(0L), (a, x) => a + x.cast("long")).as("q_sum"),
          array_min(col("qvec")).as("q_min"),
          array_max(col("qvec")).as("q_max"))
    },
    // ANN scale path 2: inverted-file (IVF) — deterministic coarse
    // quantizer (16 smallest md5(id) vectors), nearest-cell assignment,
    // 2-probe search. Fully oracle-checked: centroid choice and cell
    // ranking are engine-independent, so the oracle replays them in SQL.
    "q43_ann_ivf" -> { (s, dir) =>
      import graft.ext.Similarity
      Similarity.ivfTopK(Tables.embeddings(s, dir), k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
    },
    // IVF with a TRAINED quantizer: 2 Lloyd iterations over the sampled
    // centroids (quantized-integer element means — exact, order-independent,
    // replayed bit-for-bit by the oracle's unrolled CTEs), then the same
    // assign/probe/search as q43.
    "q54_ann_ivf_trained" -> { (s, dir) =>
      import graft.ext.Similarity
      Similarity.ivfTrainedTopK(Tables.embeddings(s, dir), k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
    },
    // BPE-ish pre-tokenization counts next to whitespace counts.
    "q41_bpe_tokens" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws_tokens"))
    },
    // Order-sensitive polynomial rolling hash (exact-sequence fingerprint).
    "q42_rolling_fingerprint" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.rollingHash(col("text")).as("rolling_hash"))
    },
    // Multimodal: binary asset columns with digest facts + STUB decode
    // features (deterministic digest-derived pseudo-dimensions).
    "q30_multimodal_features" -> { (s, dir) =>
      import graft.ext.Multimodal
      Multimodal.fakeDecodedFeatures(
        Multimodal.withContentFacts(
          Multimodal.documentsAsAssets(Tables.documents(s, dir))))
        .select(
          col("asset_id"), col("n_bytes"), col("content_digest"),
          col("width").cast("int").as("width"), col("height").cast("int").as("height"),
          col("sharpness"))
    },
    // Multimodal frame-sampling fan-out: every asset expands engine-side to
    // its sampled-frame rows (sequence+explode, no driver loop), each with
    // the frame decode key, stub dims, and aspect-fit thumbnail dims.
    "q59_multimodal_frames" -> { (s, dir) =>
      import graft.ext.Multimodal
      Multimodal.withFrameSamples(
          Multimodal.documentsAsAssets(Tables.documents(s, dir)))
        .select(
          col("asset_id"), col("frame_offset_s"), col("frame_digest"),
          col("width"), col("height"), col("thumb_w"), col("thumb_h"))
    })

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Column profiling: counts/nulls/distinct/range/mean for every numeric
    // lineitem measure in ONE scan (single wide aggregation, map-side
    // combined), unpivoted driver-side.
    "q60_column_profile" -> { (s, dir) =>
      graft.analyze.Profiler.numericProfile(Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    },
    // Equi-width histogram: one aggregation keyed by a small-int bucket id.
    "q61_histogram" -> { (s, dir) =>
      graft.analyze.Profiler.histogram(
        Tables.lineitem(s, dir), "l_extendedprice", 0.0, 100000.0, 20)
    },
    // Salted skew join: the hot-key mitigation MUST be semantically
    // invisible — the oracle is the PLAIN join, so the hash-match proves
    // salting changes the shuffle layout and nothing else.
    "q63_skew_join" -> { (s, dir) =>
      graft.ops.SkewJoin.saltedEquiJoin(
          Tables.events(s, dir), Tables.customer(s, dir), "user_id", "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    },
    // Exact PERCENTILE_CONT profile (p·(n−1) linear interpolation — the
    // same definition as DuckDB's quantile_cont).
    "q64_percentiles" -> { (s, dir) =>
      graft.analyze.Profiler.percentiles(
        Tables.lineitem(s, dir), "l_extendedprice",
        Seq(0.25, 0.5, 0.75, 0.9, 0.99))
    },
    // Cost-routed percentiles on the correctness gate: the footer count at
    // test scale stays under the default limit, so the route is the exact
    // PERCENTILE_CONT path and the oracle is q64's — what the gate pins is
    // the ROUTED surface (metadata read + dispatch) end to end. The sketch
    // route's plan shape is pinned by PlanSpec (no value-buffering
    // aggregate) and its accuracy by ProfilerSpec.
    "q242_percentiles_auto" -> { (s, dir) =>
      graft.analyze.Profiler.percentilesAuto(
        s, dir, "lineitem", "l_discount", Seq(0.1, 0.5, 0.9))
    },
    // SCD2 dimension build: change log (one state row per user_id+ts,
    // arg-max disambiguated) → collapsed versions with half-open validity
    // windows. One shuffle on the key; both windows share it.
    "q65_scd2" -> { (s, dir) =>
      import graft.streaming.Sessions
      val log = Tables.events(s, dir)
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("event_type"), col("event_id")).as("state"))
      graft.ops.Scd2.fromChangeLog(log, Seq("user_id"), "ts", Seq("state"))
        .select(col("user_id"), col("state"),
          Sessions.nsToTimestamp(col("effective_from")).as("effective_from"),
          Sessions.nsToTimestamp(col("effective_to")).as("effective_to"),
          col("version"), col("is_current"))
    },
    // Windowed funnel: view → click → purchase, each next stage within 24h
    // of the previous accepted event. ts pre-quantized to µs so the array
    // fold runs on the exact integers DuckDB's µs timestamps carry.
    "q66_funnel" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", graft.streaming.Sessions.nsToUs(col("ts")))
      graft.ops.Funnel.conversion(ev, "user_id", "event_type", "ts_us",
        Seq("view", "click", "purchase"), window = 24L * 3600 * 1000000)
    },
    // Benchmark decontamination: training docs (source != src0) vs the
    // benchmark set (source = src0); distinct 3-gram hash overlap through a
    // BROADCAST semi-join — the corpus side never shuffles.
    "q67_decontaminate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.ext.Decontaminate.contamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        n = 3, threshold = 0.2)
    },
    // Z-order clustering value: Morton-interleave (l_suppkey, l_partkey)
    // low 16 bits — the multi-dimensional sort key writeZOrdered clusters
    // files by. Pure literal-shift arithmetic, shared with the oracle.
    "q68_zorder" -> { (s, dir) =>
      import graft.ops.Layout
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey"), col("l_partkey"),
          Layout.zValue(Seq(col("l_suppkey"), col("l_partkey")), bits = 16)
            .as("zval"))
    },
    // Product-quantization ANN: 4×8 codebooks (2 Lloyd iterations,
    // integer-exact means), map-side encode, ADC search with broadcast
    // distance tables and two-stage top-k. The oracle replays the whole
    // training + encode + search pipeline in SQL.
    "q69_pq_ann" -> { (s, dir) =>
      graft.ext.ProductQuantizer.pqTopK(Tables.embeddings(s, dir),
        k = 5, m = 4, numCodes = 8, iters = 2, numQueries = 10, dim = 64)
    },
    // Corpus-wide passage dedup: 20-word segments, identical segments kept
    // once (first by doc_id, seg_idx); per-doc survival counts. Shuffles
    // carry (hash, doc, idx) longs only.
    "q70_segment_dedup" -> { (s, dir) =>
      graft.ext.Dedup.segmentDedup(Tables.documents(s, dir), segWords = 20)
    },
    // Sequence packing: docs in doc_id order cut into 512-token bins via a
    // distributed prefix sum (static id buckets + offset broadcast — no
    // global single-partition window).
    "q71_sequence_packing" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.ops.Packing.packGreedy(docs, "doc_id", "n_tokens",
        capacity = 512L, bucketSize = 64)
    },
    // PII redaction: ordered regex rule list (email → phone → ipv4 → digit
    // runs) with per-rule match counts — map-only codegen'd pass, patterns
    // in the Java∩RE2 regex subset. Exercised over a customer-derived text
    // (c_name carries digit runs; the balance is exact cents, no float
    // formatting crosses the oracle boundary).
    "q72_pii_redact" -> { (s, dir) =>
      import graft.ext.Redaction
      val txt = concat_ws(" ", col("c_name"), lit("bal"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").cast("string"))
      Redaction.redact(
          Tables.customer(s, dir).select(col("c_custkey"), txt.as("text")),
          "text")
        .select(col("c_custkey"), col("n_email"), col("n_phone"),
          col("n_ipv4"), col("n_number"), col("redacted"))
    },
    // Deterministic train/val/test split: hash(doc_id) mod 100 buckets —
    // split membership is a pure function of the id, reproducible across
    // engines/partitionings. Aggregated per (split, lang) for the check.
    "q73_hash_split" -> { (s, dir) =>
      graft.ext.Sampling.hashSplit(Tables.documents(s, dir), "doc_id")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    },
    // Overlapping fixed-window chunking (RAG/context-window prep): 500-char
    // chunks, 400-char stride; map-side sequence+explode, no shuffle.
    "q74_chunks" -> { (s, dir) =>
      graft.ext.Chunking.chunk(
          Tables.documents(s, dir), "doc_id", "text", size = 500, stride = 400)
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk_text")).cast("long").as("chunk_chars"),
          md5(col("chunk_text")).as("chunk_hash"))
    },
    // Source-mixture sampling: integer-weight corpus mixing (src0:1 src1:2
    // src2:3, budget 300) with hash-threshold selection — deterministic,
    // saturating at one epoch per source. Aggregated per source.
    "q75_mixture_sample" -> { (s, dir) =>
      graft.ext.Sampling.mixtureSample(
          Tables.documents(s, dir), "source", "doc_id",
          weights = Map("src0" -> 1L, "src1" -> 2L, "src2" -> 3L),
          budget = 300L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_selected"),
          sum(col("n_chars")).as("total_chars"))
    },
    // Characteristic terms per language: integer tf-idf over BIGRAMS
    // (linear idf, 50%-df stopword cut — unigrams in this corpus are nearly
    // all above the cut), top-5 per lang.
    "q76_tfidf_terms" -> { (s, dir) =>
      graft.ext.TextAnalysis.tfIdfTopTerms(
        Tables.documents(s, dir), topK = 5, n = 2)
    },
    // Curriculum bucketing: equi-depth difficulty deciles over the quality
    // score WITHOUT a global sort (histogram + broadcast threshold join).
    "q77_curriculum" -> { (s, dir) =>
      import graft.ext.{Curriculum, TextAnalysis}
      val scored = Tables.documents(s, dir)
        .withColumn("score", TextAnalysis.qualityScore(col("text")))
      Curriculum.equiDepthBuckets(scored, "score", numBuckets = 10)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"),
          sum(col("n_chars")).as("total_chars"))
    },
    // ANN recall harness: IVF (q43 pipeline) scored against brute-force
    // ground truth for the probe set — the nlist/nprobe tuning primitive.
    "q78_ann_recall" -> { (s, dir) =>
      import graft.ext.Similarity
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      val approx = Similarity.ivfTopK(emb, k = 5).filter(col("query_id") < 10)
      Similarity.recallAtK(exact, approx, k = 5)
    },
    // Batch twin of the §2.8 dropDuplicatesWithinWatermark stream: exact
    // event dedup on the shared content digest, deterministic keep rule.
    "q79_event_dedup" -> { (s, dir) =>
      graft.streaming.EventStream.dedupBatch(Tables.events(s, dir))
    },
    // Perplexity-proxy novelty: per-doc mean corpus-frequency of its
    // bigrams, integer-exact (rare-bigram docs = unusual text).
    "q80_bigram_novelty" -> { (s, dir) =>
      graft.ext.TextAnalysis.ngramNovelty(Tables.documents(s, dir), n = 2)
    },
    // k-anonymity audit over event quasi-identifiers (type × hour-of-day ×
    // value decile): group sizes + below-k flags for release gating.
    "q81_k_anonymity" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select(
        col("event_type"),
        hour(graft.streaming.Sessions.nsToTimestamp(col("ts"))).as("hour_of_day"),
        floor(col("value") / 10).cast("long").as("value_decile"))
      graft.ext.Privacy.kAnonymityAudit(
        ev, Seq("event_type", "hour_of_day", "value_decile"), k = 5)
    },
    // Nearest-centroid classification: per-label quantized-mean centroids,
    // argmax-cosine assignment, confusion matrix.
    "q82_centroid_classify" -> { (s, dir) =>
      graft.ext.Similarity.centroidClassify(Tables.embeddings(s, dir))
    },
    // Incremental near-dup: the src0 slice plays the EXISTING corpus, the
    // rest the incoming batch — only the batch is minhashed fresh and
    // existing×existing pairs are never generated (the daily-ingest path).
    "q83_incremental_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.ext.Dedup.incrementalDedup(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        minJaccard = 0.5)
    },
    // BPE-training counting step: global adjacent-char-pair frequencies
    // within tokens, top-20 merge candidates.
    "q84_bpe_merge_pairs" -> { (s, dir) =>
      graft.ext.TextAnalysis.bpeMergePairs(Tables.documents(s, dir), topK = 20)
    },
    // Embedding sanity gate: per-label norm stats + integer-exact |z|>2
    // outlier counts (cross-multiplied — no float on the verdict path).
    "q85_embedding_outliers" -> { (s, dir) =>
      graft.ext.EmbeddingStats.normOutliers(Tables.embeddings(s, dir))
    },
    // Composed corpus freeze: repetition gate → exact dedup (min-id
    // keeper) → deterministic split, reported as the release manifest.
    "q86_corpus_freeze" -> { (s, dir) =>
      graft.ext.CorpusPipeline.freezeSummary(Tables.documents(s, dir))
    },
    // Deterministic epoch shuffle + budget cut: seeded hash order,
    // distributed prefix sum (hash-bucketed — no global window), keep the
    // prefix fitting a 30k-token budget.
    "q87_epoch_sample" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.ops.Packing.epochSample(docs, "doc_id", "n_tokens", budget = 30000L)
    },
    // Bloom-filter join pruning: filter built from the small (filtered
    // dim) side, broadcast, probe pruned map-side BEFORE any shuffle — the
    // one-row report shows admitted vs true matches vs false positives.
    "q88_bloom_prune" -> { (s, dir) =>
      graft.ext.Sketches.bloomPruneStats(
        Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING"), "c_custkey",
        Tables.orders(s, dir), "o_custkey", m = 2048, k = 3)
    },
    // Count-min heavy hitters: mergeable depth×width integer sketch over
    // the token stream; exact top-20 vs sketch estimate (one-sided error).
    "q89_cms_heavy_hitters" -> { (s, dir) =>
      import graft.ext.Sketches
      val toks = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .where(length(col("token")) > 0)
      val top = toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("token")).limit(20)
      val sketch = Sketches.cmsBuild(toks, "token", depth = 4, width = 1024)
      top.join(Sketches.cmsEstimate(top.select("token"), "token", sketch, 4, 1024), "token")
        .select(col("token"), col("exact_cnt"), col("cms_estimate"),
          (col("cms_estimate") - col("exact_cnt")).as("overestimate"))
    },
    // HLL distinct registers over orders.o_custkey: bucket = h mod m,
    // register = max trailing-zero rank — the mergeable distinct-count
    // state (m rows, groupBy-max, map-side combined).
    "q90_hll_registers" -> { (s, dir) =>
      graft.ext.Sketches.hllRegisters(Tables.orders(s, dir), "o_custkey", m = 64)
    },
    // Incremental rollup maintenance: decimal-exact partial state per key,
    // batch folded in by the same merge that combined shards; report
    // derives the mean at read time. merge(state, batch) == full recompute
    // is the oracle.
    "q91_incremental_rollup" -> { (s, dir) =>
      import graft.state.IncrementalAgg
      val orders = Tables.orders(s, dir)
      val cutoff = lit("2000-01-01").cast("timestamp")
      val keys = Seq("o_orderpriority")
      val merged = IncrementalAgg.merge(keys,
        IncrementalAgg.partial(orders.where(col("o_orderdate") < cutoff), keys, "o_totalprice"),
        IncrementalAgg.partial(orders.where(col("o_orderdate") >= cutoff), keys, "o_totalprice"))
      IncrementalAgg.report(merged, keys)
    },
    // Mergeable quantile sketch: the q61 equi-width histogram as sketch
    // state, quantiles read off the cumulative bin table with in-bin
    // interpolation — the deterministic scale path where q64's exact
    // array percentile can't run (error ≤ one bin width).
    "q92_quantile_sketch" -> { (s, dir) =>
      import graft.analyze.Profiler
      val sketch = Profiler.histogram(
        Tables.orders(s, dir), "o_totalprice", 0.0, 500000.0, 50)
      Profiler.quantileEstimate(sketch, Seq(0.5, 0.9, 0.99))
    },
    // Semantic dedup, the SemDeDup layout: k-means cells bound the pairwise
    // stage, exact cosine within cells only, CC picks one keeper per
    // semantic cluster. The embedding-space twin of q44's text near-dup.
    "q93_semantic_dedup" -> { (s, dir) =>
      graft.ext.Similarity.semanticDedup(Tables.embeddings(s, dir), tau = 0.3)
    },
    // Hard-negative mining for contrastive training: trained-IVF probe path,
    // top-5 most-similar DIFFERENT-label neighbours per vector.
    "q94_hard_negatives" -> { (s, dir) =>
      graft.ext.Similarity.hardNegatives(Tables.embeddings(s, dir), k = 5)
    },
    // Snapshot drift report: language-mix shift between two corpus freezes
    // (hash-derived 80%/80% overlapping slices), integer-exact
    // cross-multiplied drift numerator — the promote-or-rollback gate.
    "q95_distribution_drift" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val b = pmod(graft.ext.Dedup.stableHash(col("doc_id"), 0), lit(100L))
      graft.ext.Drift.distributionDrift(
        docs.filter(b < 80), docs.filter(b >= 20), "lang")
    },
    // Row-level snapshot diff by content digest: added / removed / changed /
    // unchanged per document between the same two slices (the "new" side
    // deterministically rewrites every 7th bucket to exercise `changed`).
    "q96_snapshot_diff" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .withColumn("b",
          pmod(graft.ext.Dedup.stableHash(col("doc_id"), 0), lit(100L)))
      val oldSnap = docs.filter(col("b") < 80).select("doc_id", "text", "lang")
      val newSnap = docs.filter(col("b") >= 20)
        .select(col("doc_id"),
          when(pmod(col("b"), lit(7L)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"),
          col("lang"))
      graft.ext.Drift.snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text", "lang"))
    },
    // Char-trigram Simpson diversity: the log-free perplexity proxy —
    // integer-exact Σc² concentration per document, one IEEE division at
    // the end.
    "q97_trigram_diversity" -> { (s, dir) =>
      graft.ext.TextAnalysis.trigramDiversity(Tables.documents(s, dir))
    },
    // Corpus retrieval: integer tf-idf top-20 for a fixed query bag — term
    // filter before the tf shuffle, |terms|-row idf broadcast, global
    // top-k as TakeOrderedAndProject.
    "q98_retrieval" -> { (s, dir) =>
      graft.ext.Retrieval.searchTopK(
        Tables.documents(s, dir), Seq("spark", "hash", "join", "window"), k = 20)
    },
    // Robust (median/IQR) scaling of a per-doc numeric — score
    // normalization before cross-corpus mixing; quantiles broadcast back,
    // scaling map-side.
    "q99_robust_scale" -> { (s, dir) =>
      graft.analyze.Profiler.robustScale(
        Tables.documents(s, dir), "n_chars", "doc_id")
    },
    // Per-dimension embedding profile: integer-exact means + component
    // ranges per position — the dead/saturated-dimension check.
    "q100_dimension_profile" -> { (s, dir) =>
      graft.ext.EmbeddingStats.dimensionProfile(Tables.embeddings(s, dir))
    },
    // Exact join-cardinality preflight from per-key counts — the size and
    // worst-key fanout an orders⋈lineitem join WOULD produce, without
    // running it.
    "q101_join_cardinality" -> { (s, dir) =>
      graft.analyze.Profiler.joinCardinality(
        Tables.orders(s, dir), "o_orderkey",
        Tables.lineitem(s, dir), "l_orderkey")
    },
    // Quality-proportional thinning: keep P(doc) = quality via the
    // deterministic hash gate — the soft filter between threshold cliffs
    // and keeping junk; kept set is monotone in the score.
    "q108_quality_thin" -> { (s, dir) =>
      val scored = Tables.documents(s, dir)
        .withColumn("quality",
          graft.ext.TextAnalysis.qualityScore(col("text")))
      graft.ext.Sampling.qualityThin(scored, "quality", "doc_id")
        .select(col("doc_id"), col("lang"), round(col("quality"), 6).as("quality"))
    },
    // Fuzzy (edit-distance) self-join over part names: PassJoin segment
    // blocking — content-keyed candidates (cardinality grows with data),
    // exact levenshtein verify scoped to candidates. Lossless: output is
    // exactly the brute-force pair set.
    "q110_fuzzy_join" -> { (s, dir) =>
      graft.ext.FuzzyJoin.selfPairs(Tables.part(s, dir), "p_name", maxDist = 2)
    },
    // Language confusion: top-two marker languages + margin per doc — the
    // code-switching flag langid's argmax hides. Map-only projection.
    "q126_lang_confusion" -> { (s, dir) =>
      graft.ext.TextAnalysis.langConfusion(Tables.documents(s, dir))
    },
    // Per-source shortlist via the bounded top-k aggregate (E87): same rows
    // as the row_number window pattern, but runs as a partial hash
    // aggregate — each map task ships at most k rows per source, and
    // nothing is ever sorted (TopKAggSpec pins the plan shape). At 100 TB
    // the window formulation sorts the whole table; this moves ≤ k·tasks
    // rows per source.
    "q127_topk_per_source" -> { (s, dir) =>
      val scored = Tables.documents(s, dir).select(
        col("source"),
        floor(graft.ext.TextAnalysis.qualityScore(col("text")) * 1000000.0)
          .cast("long").as("score"),
        col("doc_id"))
      scored.groupBy("source")
        .agg(graft.functions.TopKAgg.topK(5)(col("score"), col("doc_id")).as("tk"))
        .select(col("source"), posexplode(col("tk.items")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
          col("col.id").as("doc_id"), col("col.score").as("score"))
    },
    // Coverage-gap detection (E88): per-user silent periods ≥ 6h in the
    // event feed — integer-microsecond lag differences over one bounded
    // window. The data-completeness preflight for log-fed pipelines.
    "q128_coverage_gaps" -> { (s, dir) =>
      graft.ops.Coverage.gaps(Tables.events(s, dir))
    },
    // Per-user coverage rollup (E88): span, event count, and time lost to
    // ≥6h holes — all-integer microseconds; the summary groupBy reuses the
    // window's hash partitioning (CoverageSpec pins one exchange).
    "q129_coverage_summary" -> { (s, dir) =>
      graft.ops.Coverage.coverageSummary(Tables.events(s, dir))
    },
    // Integer-exact PageRank (E89) over the event-transition graph: which
    // states matter in the user-journey digraph. Fixed-point ranks, floor
    // division each step (Spark `div` == DuckDB `//`), 3 unrolled rounds —
    // per-round cost is one edge pass + one groupBy(dst) shuffle.
    "q130_pagerank" -> { (s, dir) =>
      val tr = graft.ops.Funnel.transitionMatrix(
        Tables.events(s, dir), "user_id", "event_type", Seq("ts", "event_id"))
      graft.ext.GraphStats.pageRank(tr, "from_type", "to_type", "n")
    },
    // Fuzzy decontamination (E90): near-dup corpus×benchmark matches via
    // MinHash-LSH blocking + candidate-scoped Jaccard verify — catches
    // paraphrased eval leakage that exact n-gram overlap (q67) misses.
    // Benchmark = every 7th doc, corpus = the rest; bench side broadcast.
    "q131_fuzzy_decontaminate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.ext.Decontaminate.fuzzyContamination(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        minJaccard = 0.4)
    },
    // BPE tokenizer training: 4 merge iterations over the word-frequency
    // table (corpus scanned once; iterations are vocab-scale) — the
    // learned merge table a tokenizer ships.
    "q124_bpe_train" -> { (s, dir) =>
      graft.ext.BpeTrainer.train(Tables.documents(s, dir), merges = 4)
    },
    // BPE tokenization with the learned merges: per-doc BPE token counts,
    // all merge rewrites composed into one map-side projection.
    "q125_bpe_tokenize" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val merges = graft.ext.BpeTrainer.train(docs, merges = 4).collect()
        .sortBy(_.getInt(0)).map(_.getString(1)).toSeq
      graft.ext.BpeTrainer.tokenCounts(docs, "text", "doc_id", merges)
    },
    // Composite-key discovery: all pairs of lineitem's id-like columns
    // tested for uniqueness in ONE aggregate pass (Expand-duplicated scan,
    // cost documented); (l_orderkey, l_linenumber) is the real PK.
    "q123_composite_keys" -> { (s, dir) =>
      graft.analyze.CompositeKeys.compositeKeys(
        Tables.lineitem(s, dir), "lineitem",
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"))
    },
    // Numeric-distribution drift: TVD over shared histogram buckets of
    // o_totalprice between two deterministic snapshot halves — integer
    // numerators, bucket-keyed join, snapshots never joined row-to-row.
    "q122_numeric_drift" -> { (s, dir) =>
      val orders = Tables.orders(s, dir)
      val b = pmod(graft.ext.Dedup.stableHash(col("o_orderkey"), 0), lit(100L))
      graft.ext.Drift.numericDrift(
        orders.filter(b < 80), orders.filter(b >= 20),
        "o_totalprice", lo = 0.0, hi = 500000.0, nBuckets = 50)
    },
    // Key-skew preflight: exact Gini over per-key counts via the
    // counts-of-counts collapse — the "does this join need salting?"
    // number, with the only ordered window on distinct frequency values.
    "q121_key_skew" -> { (s, dir) =>
      graft.analyze.Profiler.keySkewProfile(Tables.lineitem(s, dir), "l_partkey")
    },
    // Market-basket pair mining: parts ordered together (same orderkey),
    // support ≥ 3, basket-size-capped pair join keyed on order id.
    "q119_cooccurrence" -> { (s, dir) =>
      graft.ops.CoOccurrence.pairs(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", minSupport = 3L)
    },
    // Weekly cohort retention triangle over events: integer-exact week
    // bucketing, one user-keyed shuffle, broadcast cohort sizes.
    "q120_cohort_retention" -> { (s, dir) =>
      graft.ops.Retention.weeklyRetention(Tables.events(s, dir))
    },
    // Top session path signatures: first-5-event-type journeys per q25
    // session, counted and top-20 via distributed TakeOrdered.
    "q117_session_paths" -> { (s, dir) =>
      graft.streaming.Sessions.topPaths(Tables.events(s, dir))
    },
    // Triangle census of the near-dup graph: ordered-edge triangle count +
    // wedge count + global clustering — the "are my dup clusters cliques
    // or chains?" QA gate before connected components.
    "q118_dup_graph_census" -> { (s, dir) =>
      graft.ext.GraphStats.triangleCensus(
        graft.ext.Dedup.nearDuplicates(Tables.documents(s, dir), minJaccard = 0.5),
        "id_a", "id_b")
    },
    // Quota + backfill admission: every source keeps its best 10 docs;
    // unfilled quota (17 sources hold only 5 docs under the skew filter)
    // re-awards to the globally best remainder via a distributed top-k.
    "q116_quota_admission" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .filter(col("source").isin("src0", "src1", "src2") || col("doc_id") % 5 === 0)
        .withColumn("quality", graft.ext.TextAnalysis.qualityScore(col("text")))
      graft.ext.Sampling.admitWithQuota(docs, "source", "doc_id", "quality", quota = 10L)
    },
    // Dataset card: one-call corpus release summary (sizes, diversity,
    // dup rate, mean quality, top language) — one global aggregate + a
    // lang argmax, integer-exact numerics.
    "q115_dataset_card" -> { (s, dir) =>
      graft.ext.CorpusPipeline.datasetCard(Tables.documents(s, dir))
    },
    // Rolling median/MAD anomaly flags over hourly event counts: robust
    // spike detection with doubled-median INTEGER comparisons (no float
    // rounding), trailing 24 h window per event type.
    "q114_rate_anomalies" -> { (s, dir) =>
      graft.ext.Drift.rollingMadAnomalies(
        graft.streaming.Sessions.hourlyAgg(Tables.events(s, dir))
          .select(col("event_type"), col("hour"), col("n_events")),
        "event_type", "hour", "n_events")
    },
    // Per-group quantile sketch: one grouped equi-width histogram pass over
    // documents, then p50/p90/p99 length per lang read off the sketch —
    // groups × bins state, mergeable, never re-touches the data.
    "q113_group_quantiles" -> { (s, dir) =>
      import graft.analyze.Profiler
      Profiler.quantileEstimateBy(
        Profiler.histogramBy(Tables.documents(s, dir), "lang", "n_chars",
          lo = 0.0, hi = 2048.0, nBuckets = 32),
        "lang", Seq(0.5, 0.9, 0.99))
    },
    // First-order Markov transition matrix over per-user event sequences:
    // one shuffle on user_id (lead window), map-side-combined pair counts,
    // exact row totals and probabilities.
    "q112_transition_matrix" -> { (s, dir) =>
      graft.ops.Funnel.transitionMatrix(
        Tables.events(s, dir), "user_id", "event_type", Seq("ts", "event_id"))
    },
    // Temperature-scaled mixture (α = 1/2): integer-exact per-source
    // budgets ∝ √n, best-quality admission per source. The filter induces
    // skewed source sizes (3 full sources, 17 thinned) so the flattening
    // is actually exercised.
    "q111_temperature_mix" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .filter(col("source").isin("src0", "src1", "src2") || col("doc_id") % 5 === 0)
        .withColumn("quality", graft.ext.TextAnalysis.qualityScore(col("text")))
      graft.ext.Sampling.temperatureSample(docs, "source", "doc_id", "quality", budget = 60L)
    },
    // Cross-source duplication matrix: near-dup pair counts per unordered
    // source pair — which feeds copy each other.
    "q109_dup_matrix" -> { (s, dir) =>
      graft.ext.Dedup.dupSourceMatrix(
        Tables.documents(s, dir), minJaccard = 0.5)
    },
    // One-row drift verdict over the q95 report: exact-numerator TVD,
    // key count, worst-drifting key — the promote/rollback gate value.
    "q107_drift_summary" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val b = pmod(graft.ext.Dedup.stableHash(col("doc_id"), 0), lit(100L))
      graft.ext.Drift.driftSummary(
        graft.ext.Drift.distributionDrift(
          docs.filter(b < 80), docs.filter(b >= 20), "lang"))
    },
    // Per-group HLL: one 64-register sketch per event_type in ONE pass,
    // engine-side raw estimate (integer-scaled harmonic sum — order-free
    // and hash-exact), joined to the exact distinct for error visibility.
    "q106_hll_by_group" -> { (s, dir) =>
      import graft.ext.Sketches
      val ev = Tables.events(s, dir)
      Sketches.hllRawEstimateBy(
          Sketches.hllRegistersBy(ev, "event_type", "user_id", 64),
          "event_type", 64)
        .join(
          ev.groupBy("event_type")
            .agg(countDistinct(col("user_id")).as("exact_distinct")),
          "event_type")
    },
    // Declarative data-quality expectations over orders: five rules, one
    // scan, per-rule violation report. The in_range upper bound is set
    // BELOW the true max so a failing rule is exercised too.
    "q105_expectations" -> { (s, dir) =>
      import graft.datatest.Expectations._
      check(Tables.orders(s, dir), Seq(
        NotNull("o_custkey"),
        Unique("o_orderkey"),
        InRange("o_totalprice", 0.0, 400000.0),
        Matches("o_orderpriority", "[1-5]-[A-Z ]+"),
        MinRows(1000L)))
    },
    // Schema diff between two snapshot catalogs (footer metadata only):
    // the "new" side simulates an evolution — events table dropped, one
    // lineitem column removed, one customer column retyped, one documents
    // column added — and every (table, column) is classified.
    "q104_schema_diff" -> { (s, dir) =>
      import s.implicits._
      val a = classifiedCols(s, dir).select("tableName", "columnName", "dataType")
      val b = a
        .filter(col("tableName") =!= "events")
        .filter(!(col("tableName") === "lineitem" && col("columnName") === "l_tax"))
        .withColumn("dataType",
          when(col("tableName") === "customer" && col("columnName") === "c_acctbal",
            lit("decimal(12,2)")).otherwise(col("dataType")))
        .unionByName(Seq(("documents", "quality_score", "double"))
          .toDF("tableName", "columnName", "dataType"))
      graft.ext.Drift.schemaDiff(a, b)
    },
    // Schema MERGE plan (E91): the write-side companion to q104's diff —
    // the unified schema the next compaction should emit. Numeric drift
    // widens along Spark's numeric-precedence ladder; incompatible drift
    // (double→decimal) is a `conflict` left for a human. Same snapshot
    // fixture as q104 plus two widening cases (one each direction).
    "q132_schema_merge" -> { (s, dir) =>
      import s.implicits._
      val a = classifiedCols(s, dir).select("tableName", "columnName", "dataType")
      val b = a
        .filter(col("tableName") =!= "events")
        .filter(!(col("tableName") === "lineitem" && col("columnName") === "l_tax"))
        .withColumn("dataType",
          when(col("tableName") === "customer" && col("columnName") === "c_acctbal",
            lit("decimal(12,2)"))
            .when(col("tableName") === "part" && col("columnName") === "p_size",
              lit("bigint"))
            .when(col("tableName") === "supplier" && col("columnName") === "s_suppkey",
              lit("int"))
            .otherwise(col("dataType")))
        .unionByName(Seq(("documents", "quality_score", "double"))
          .toDF("tableName", "columnName", "dataType"))
      graft.ext.Drift.schemaMerge(a, b)
    },
    // Compaction plan (E92): coalesce the documents table's small source
    // partitions into ~120-row output shards — offset binning over an
    // exclusive prefix sum (next-fit, integer-only; Packing.packGreedy's
    // bin math applied to unit metadata).
    "q133_compaction_plan" -> { (s, dir) =>
      val parts = Tables.documents(s, dir)
        .groupBy(col("source").as("part")).agg(count(lit(1)).as("n"))
      graft.ops.Compaction.plan(parts, "part", "n", targetRows = 120L)
    },
    // Dyadic EWMA (E96): α=1/2 smoothed hourly event rates — power-of-two
    // weights make the whole series integer shifts+adds, bit-identical in
    // SQL. One bounded window per event type.
    "q136_ewma_rates" -> { (s, dir) =>
      val hourly = graft.streaming.Sessions.hourlyAgg(Tables.events(s, dir))
        .select(col("event_type"), col("hour"), col("n_events"))
      graft.ext.Drift.ewmaSmooth(hourly, "event_type", "hour", "n_events")
    },
    // Boilerplate prefix detection (E94): per-source most-repeated leading
    // 32 chars — scraped-template headers. One map-side-combined groupBy;
    // the rank window sees repeated prefixes only.
    "q134_boilerplate_prefixes" -> { (s, dir) =>
      graft.ext.TextAnalysis.boilerplatePrefixes(Tables.documents(s, dir))
    },
    // Boilerplate STRIP (E97): the act step for q134's detection — each
    // source's top repeated prefix removed map-side via a broadcast join;
    // the corpus never shuffles.
    "q137_strip_boilerplate" -> { (s, dir) =>
      graft.ext.TextAnalysis.stripBoilerplate(Tables.documents(s, dir))
    },
    // Functional-dependency discovery (E99): every directed determinant →
    // dependent test over lineitem's key/flag columns in ONE Expand
    // aggregate pass (struct-valued distincts — null-safe in both engines).
    "q139_functional_deps" -> { (s, dir) =>
      graft.analyze.FunctionalDeps.discover(
        Tables.lineitem(s, dir), "lineitem",
        Seq("l_orderkey", "l_suppkey", "l_returnflag", "l_linestatus"))
    },
    // Canonicalization-aware dedup (E100): group by the digest of the
    // lowercased/punctuation-stripped/whitespace-collapsed form — the
    // normalization web pipelines run before hashing; n_raw_variants > 1
    // marks groups exact dedup (q12) cannot see.
    "q140_canonical_dedup" -> { (s, dir) =>
      graft.ext.Dedup.canonicalDedup(Tables.documents(s, dir))
    },
    // DSIR-style importance selection (E101): src0 is the target domain;
    // hashed word-feature ratio weights (integer fixed point, log-free),
    // broadcast weight join, one id-keyed shuffle, deterministic top-50.
    "q141_importance_select" -> { (s, dir) =>
      graft.ext.Importance.importanceSelect(
        Tables.documents(s, dir), col("source") === "src0")
    },
    // Cross-table fuzzy linkage (E102): match one catalog half against the
    // other allowing ≤2 typos — PassJoin blocking without the self-join
    // orientation trick (either side may be shorter). Lossless; verified
    // against brute force in FuzzyJoinSpec.
    "q142_fuzzy_linkage" -> { (s, dir) =>
      val part = Tables.part(s, dir)
      val b = pmod(graft.ext.Dedup.stableHash(col("p_partkey"), 11), lit(100L))
      graft.ext.FuzzyJoin.crossPairs(
        part.filter(b < 50), part.filter(b >= 50), "p_name", "p_name", maxDist = 2)
    },
    // HLL set-operation estimates (E103): how many users click AND
    // purchase — inclusion–exclusion over two mergeable sketches, no
    // data-scale join; integer harmonic sums, one fixed double
    // expression tree (engine-identical).
    "q143_hll_setops" -> { (s, dir) =>
      import graft.ext.Sketches
      val ev = Tables.events(s, dir)
      Sketches.hllSetOps(
        Sketches.hllRegisters(ev.filter(col("event_type") === "click"), "user_id", 64),
        Sketches.hllRegisters(ev.filter(col("event_type") === "purchase"), "user_id", 64),
        64)
    },
    // Repeated-span mining (E104): 8-word windows shared by ≥2 docs —
    // interior boilerplate that prefix detection (q134) and disjoint
    // segments (q70) both miss. Data-scale shuffle is (hash, doc) longs;
    // span text only rides the broadcast-scoped top-k join-back.
    "q144_repeated_spans" -> { (s, dir) =>
      graft.ext.TextAnalysis.repeatedSpans(Tables.documents(s, dir))
    },
    // Incremental SCD2 upsert (E105): build the dimension from the first
    // 80% of the change log, merge the rest as a batch — end state must
    // equal the full rebuild (the oracle IS q65's full-log SQL). Work
    // proportional to touched keys.
    "q145_scd2_upsert" -> { (s, dir) =>
      import graft.streaming.Sessions
      val log = Tables.events(s, dir)
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("event_type"), col("event_id")).as("state"))
      val mm = log.agg(min(col("ts")).as("__lo"), max(col("ts")).as("__hi"))
      val cut = log.crossJoin(mm).withColumn("__cut",
        col("__lo") + graft.ext.ExactMath.floorDiv((col("__hi") - col("__lo")) * 4L, lit(5L)))
      val pre = cut.filter(col("ts") < col("__cut")).select("user_id", "ts", "state")
      val post = cut.filter(col("ts") >= col("__cut")).select("user_id", "ts", "state")
      graft.ops.Scd2.applyChanges(
        graft.ops.Scd2.fromChangeLog(pre, Seq("user_id"), "ts", Seq("state")),
        post, Seq("user_id"), "ts", Seq("state"))
        .select(col("user_id"), col("state"),
          Sessions.nsToTimestamp(col("effective_from")).as("effective_from"),
          Sessions.nsToTimestamp(col("effective_to")).as("effective_to"),
          col("version"), col("is_current"))
    },
    // Dense-grid forward fill (E106): hourly per-type event counts onto a
    // complete per-key hour grid, holes filled with the last observed
    // value — the act step for q128's gap report. Integer-µs buckets.
    "q146_forward_fill" -> { (s, dir) =>
      val hourUs = 3600L * 1000000
      val series = Tables.events(s, dir)
        .select(col("event_type"),
          (graft.ext.ExactMath.floorDiv(
            graft.streaming.Sessions.nsToUs(col("ts")), lit(hourUs)) * hourUs)
            .as("hour_us"))
        .groupBy("event_type", "hour_us")
        .agg(count(lit(1)).as("n_events"))
      graft.ops.Coverage.forwardFill(
        series, "event_type", "hour_us", "n_events", hourUs)
        .select(col("event_type"), col("hour_us"), col("n_events"),
          col("was_gap"), col("filled_from_us"))
    },
    // Leakage-safe split (E107): near-dup clusters are split as a UNIT —
    // the hash key is the cluster canonical id, so paraphrase pairs can
    // never straddle train/test. Oracle re-derives the clusters via
    // recursive reachability over the same near-dup pair set.
    "q147_leakage_safe_split" -> { (s, dir) =>
      graft.ext.Sampling.leakageSafeSplit(
        Tables.documents(s, dir), minJaccard = 0.5)
        .select(col("doc_id"), col("cluster_id"), col("split"))
    },
    // Source-level MinHash similarity (E108): one mergeable signature per
    // source (min over the union of its docs' shingle hashes), then a
    // |sources|² comparison — feed-overlap triage without document pairs.
    "q148_source_similarity" -> { (s, dir) =>
      graft.ext.Dedup.sourceSimilarity(Tables.documents(s, dir))
    },
    // Markup strip (E109): tag removal + single-level entity decode +
    // whitespace collapse with per-doc audit counts. Map-only.
    "q149_markup_strip" -> { (s, dir) =>
      graft.ext.TextAnalysis.stripMarkup(Tables.documents(s, dir))
        .select(col("doc_id"), md5(col("text_clean")).as("clean_hash"),
          col("n_tags"), col("n_entities"), col("raw_len"), col("clean_len"))
    },
    // Pseudonymization audit (E110): salted-digest tokens over the
    // distinct user ids + per-token id count (collision check).
    "q150_pseudonymize" -> { (s, dir) =>
      graft.ext.Privacy.pseudonymAudit(
        Tables.events(s, dir), "user_id", "graft", tokenLen = 12)
    },
    // Logical-type inference (E111): anchored-regex sniffing over
    // stringified columns; a typed verdict only when EVERY non-null value
    // matches — the untyped-feed onboarding pass. One Expand per table.
    "q151_type_sniff" -> { (s, dir) =>
      graft.analyze.TypeSniff.inferTypes(
        Tables.events(s, dir), Seq("props", "event_type", "user_id"))
        .unionByName(graft.analyze.TypeSniff.inferTypes(
          Tables.documents(s, dir), Seq("lang", "doc_id")))
    },
    // Diversity-constrained selection (E112): ≤8 most-central vectors per
    // trained k-means cell — a cluster-representative coreset that spans
    // the embedding space instead of piling onto its densest region.
    "q152_diverse_select" -> { (s, dir) =>
      graft.ext.Similarity.diverseSelect(Tables.embeddings(s, dir), perCell = 8)
    },
    // Epoch/repeat planning (E113): α=1/2 temperature weights over token
    // mass → per-source token targets and 2²⁰-fixed-point repeat factors,
    // flagging sources pushed past the epoch cap. Integer-exact.
    "q153_epoch_plan" -> { (s, dir) =>
      graft.ext.Sampling.epochPlan(
        Tables.documents(s, dir), "source",
        size(split(col("text"), " ")).cast("long"), budgetTokens = 100000L)
    },
    // Pareto front (E114): documents where no other doc is both longer
    // AND higher quality — the corpus quality/length frontier. The oracle
    // is an independent naive NOT-EXISTS dominance scan.
    "q154_pareto_front" -> { (s, dir) =>
      val d = graft.ext.TextAnalysis.withQualityMetrics(Tables.documents(s, dir))
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          floor(col("quality_score") * 1048576.0).cast("long").as("q_fp"))
      graft.ops.Skyline.paretoFront(d, "n_tokens", "q_fp")
        .select("doc_id", "n_tokens", "q_fp")
    },
    // Segment-dedup rewrite (E115): documents rebuilt from their KEPT
    // 20-word segments only — globally-duplicated passages cut from every
    // copy but the first, survivors stitched back in order.
    "q155_segment_rewrite" -> { (s, dir) =>
      graft.ext.Dedup.segmentRewrite(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_segments"), col("n_kept"),
          md5(col("text_clean")).as("clean_hash"))
    },
    // Split-leakage audit (E116): near-dup pairs straddling a NAIVE
    // per-doc hash split — the contamination count that motivates the
    // cluster-keyed split (q147). Off-diagonal rows are leaks.
    "q156_split_leakage" -> { (s, dir) =>
      graft.ext.Sampling.splitLeakageAudit(
        Tables.documents(s, dir), minJaccard = 0.5)
    },
    // Label consensus (E117): per item the majority label, its support,
    // tie/unanimity flags — multi-annotator QA. Items here are users,
    // votes are their event types.
    "q157_label_consensus" -> { (s, dir) =>
      graft.ext.Labeling.consensus(Tables.events(s, dir), "user_id", "event_type")
    },
    // Per-group robust scaling (E118): median/IQR z within each source —
    // normalization that respects per-source scale differences.
    "q158_robust_scale_by" -> { (s, dir) =>
      graft.analyze.Profiler.robustScaleBy(
        Tables.documents(s, dir), "n_chars", "doc_id", "source")
    },
    // Interval peak-concurrency sweep (E119): max simultaneously-open
    // order→ship intervals per returnflag and the earliest instant the
    // peak is hit. Two-level ±1 sweep: per-(key, day-bucket) local running
    // sums + a carry-in prefix over bucket totals — no per-key global sort.
    "q159_peak_concurrency" -> { (s, dir) =>
      val iv = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_returnflag"),
          graft.streaming.Sessions.tsToUs(col("o_orderdate")).as("start_us"),
          graft.streaming.Sessions.tsToUs(col("l_shipdate")).as("end_us"))
      graft.ops.Concurrency.peakConcurrency(iv, "l_returnflag", "start_us", "end_us")
    },
    // Benford first-digit audit (E120): leading-digit distribution of
    // order totals per priority class vs Benford's law, deviations as
    // exact integers (expected masses are shared fixed-point constants).
    "q160_benford_audit" -> { (s, dir) =>
      graft.analyze.Benford.audit(
        Tables.orders(s, dir), floor(col("o_totalprice")), "o_orderpriority")
    },
    // Annotator agreement (E121): Cohen's kappa between the labeled lang
    // column and the langid prediction — chance-corrected accuracy of the
    // heuristic classifier, as exact integer numerator/denominator.
    "q161_agreement_kappa" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      val d = Tables.documents(s, dir)
        .select(col("lang").as("gold"), TextAnalysis.langId(col("text")).as("pred"))
      graft.ext.Labeling.agreementKappa(d, col("gold"), col("pred"))
    },
    // Quantile normalization (E122): per-source doc lengths mapped onto
    // the global length distribution by exact rank position — feed mixing
    // without per-source scale effects. Positions resolve against the
    // distinct-value cumulative table, never a global row sort.
    "q162_quantile_normalize" -> { (s, dir) =>
      graft.analyze.Profiler.quantileNormalize(
        Tables.documents(s, dir), "n_chars", "doc_id", "source")
    },
    // Trimmed mean (E123): per-source robust average length — drop the
    // 10% tails by rank, exact integer mean (2²⁰ fixed point).
    "q163_trimmed_mean" -> { (s, dir) =>
      graft.analyze.Profiler.trimmedMeanBy(
        Tables.documents(s, dir), "n_chars", "doc_id", "source")
    },
    // Exact-count per-group split (E124): hash-ordered rank split with
    // GUARANTEED per-source proportions (hashSplit's are only expected),
    // cutoffs cross-multiplied so no division appears anywhere.
    "q164_exact_split" -> { (s, dir) =>
      graft.ext.Sampling.exactGroupSplit(Tables.documents(s, dir), "doc_id", "source")
    },
    // OOV rate (E125): per-doc out-of-vocabulary fraction against the
    // corpus' own top-500 unigram vocabulary — the tokenizer-hostile-tail
    // detector. Vocab broadcast; shuffle is one row per doc.
    "q165_oov_rate" -> { (s, dir) =>
      graft.ext.TextAnalysis.oovRate(Tables.documents(s, dir), vocabSize = 500)
    },
    // Per-group OLS (E126): chars-per-token calibration line per source,
    // slope/intercept as exact decimal38 fixed-point integers.
    "q166_group_ols" -> { (s, dir) =>
      graft.analyze.Profiler.olsBy(
        Tables.documents(s, dir),
        col("n_chars"), size(split(col("text"), " ")).cast("long"), "source")
    },
    // Hybrid retrieval (E127): tf-idf ranking ⊕ quality ranking fused by
    // reciprocal rank (⌊2²⁰/(60+r)⌋ each) over the query's candidate set.
    "q167_rrf_fusion" -> { (s, dir) =>
      graft.ext.Retrieval.hybridTopK(
        Tables.documents(s, dir), Seq("spark", "hash", "join", "window"), k = 20)
    },
    // Winsorization (E128): per-source [p05, p95] clamp with clip flags —
    // robustScaleBy's capping sibling for mean-safe aggregation.
    "q168_winsorize" -> { (s, dir) =>
      graft.analyze.Profiler.winsorizeBy(
        Tables.documents(s, dir), "n_chars", "doc_id", "source")
    },
    // CDC compaction (E129): ordered upsert/delete log → latest-wins
    // snapshot (deletes drop the key), one window pass per key.
    "q169_cdc_apply" -> { (s, dir) =>
      val log = Tables.events(s, dir).select(col("user_id"),
        graft.streaming.Sessions.nsToUs(col("ts")).as("ts_us"), col("event_id"),
        when(pmod(graft.ext.Dedup.stableHash(col("event_id"), 3), lit(10L)) === 0L, "D")
          .otherwise("U").as("op"),
        col("value"))
      graft.ops.Cdc.latestSnapshot(
        log, "user_id", "ts_us", "event_id", "op", Seq("value"))
    },
    // Readability (E130): integer Flesch–Kincaid-style grade from regex
    // counters (vowel-run syllables, sentence runs) — map-only.
    "q170_readability" -> { (s, dir) =>
      graft.ext.TextAnalysis.readability(Tables.documents(s, dir))
    },
    // Bigram LM plausibility (E131): log-free perplexity-proxy fluency
    // score — mean 2²⁰-fp transition probability under the corpus' own
    // bigram model. Counts joined at vocabulary scale, never raw tokens.
    "q171_lm_score" -> { (s, dir) =>
      graft.ext.TextAnalysis.lmPlausibility(Tables.documents(s, dir))
    },
    // Contrastive pairs (E132): near-dup positives + hash-adjacent
    // negatives (accidental dups anti-joined away) — the (a, b, label)
    // training set for similarity models, deterministic end to end.
    "q172_contrastive_pairs" -> { (s, dir) =>
      graft.ext.Sampling.contrastivePairs(Tables.documents(s, dir), minJaccard = 0.5)
    },
    // Gram matrix (E133): upper-triangle Σ qqᵀ over 2¹⁰-quantized
    // embeddings via a mergeable Aggregator — one buffer per map task
    // shuffles, not dim²·n exploded rows.
    "q173_gram_matrix" -> { (s, dir) =>
      graft.ext.EmbeddingStats.gramProfile(Tables.embeddings(s, dir), dim = 64)
    },
    // Source modularity (E134): does duplication stay inside feeds?
    // Exact integer modularity contributions of the source partition over
    // the near-dup graph (4m·e_in − d_sum² per source).
    "q174_source_modularity" -> { (s, dir) =>
      graft.ext.GraphStats.sourceModularity(Tables.documents(s, dir), minJaccard = 0.5)
    },
    // Balance weights (E135): inverse-frequency resampling weights over
    // (lang × source) cells, capped at 10× — equal-cell training mix.
    "q175_balance_weights" -> { (s, dir) =>
      graft.ext.Sampling.balanceWeights(Tables.documents(s, dir), Seq("lang", "source"))
    },
    // Path plausibility (E136): per-session mean Markov transition
    // probability (2²⁰ fp) under the corpus' own session model — the
    // behavioral twin of q171's text LM score.
    "q176_path_score" -> { (s, dir) =>
      graft.ops.Funnel.pathPlausibility(Tables.events(s, dir), gapMinutes = 30)
    },
    // Exact set-similarity join (E137): PPJoin-style rare-first prefix
    // filter, candidate-scoped verify, cross-multiplied threshold —
    // guaranteed-complete Jaccard ≥ 0.6 pairs (vs LSH's probable ones).
    // Runs in 3-shingle space: the testdata's 31-word closed vocabulary
    // makes token-space prefixes unselective (degenerates to all-pairs);
    // shingle vocabulary grows with the corpus, so the prefix filter
    // actually prunes — same exactness, 40× faster at sf0.1.
    "q177_setsim_join" -> { (s, dir) =>
      graft.ext.FuzzyJoin.setSimJoin(
        Tables.documents(s, dir), tNum = 3, tDen = 5, shingleK = 3)
    },
    // SimHash near-dup join (E138): 4×15-bit banded candidates + exact
    // Hamming ≤ 3 verify — complete by pigeonhole, zero probability.
    "q178_simhash_neardup" -> { (s, dir) =>
      graft.ext.Dedup.simhashNearDups(Tables.documents(s, dir), maxHamming = 3)
    },
    // Distinctive terms (E139): per-source top-5 tokens by smoothed
    // rate-ratio (2²⁰ fp, no logs) — the "what makes this feed different"
    // report.
    "q179_distinctive_terms" -> { (s, dir) =>
      graft.ext.TextAnalysis.distinctiveTerms(Tables.documents(s, dir), "source", k = 5)
    },
    // Systematic weighted sample (E140): token-weighted, RNG-free,
    // Σ multiplicities = m exactly; two-level prefix sum (no global
    // per-row sort).
    "q180_systematic_sample" -> { (s, dir) =>
      graft.ext.Sampling.systematicSample(
        Tables.documents(s, dir), "doc_id",
        size(split(col("text"), " ")).cast("long"), m = 200L)
    },
    // KS drift (E141): per-source Kolmogorov–Smirnov distance vs the rest
    // of the corpus over doc lengths — exact integer sup over jump points.
    "q181_ks_drift" -> { (s, dir) =>
      graft.ext.Drift.ksDrift(Tables.documents(s, dir), "n_chars", "source")
    },
    // Code-likeness gate (E142): symbol-per-char + keyword-per-token
    // densities as 2²⁰ fixed-point — the prose/code separator a curation
    // pass runs before any length/stopword quality heuristic.
    "q182_code_score" -> { (s, dir) =>
      graft.ext.TextAnalysis.codeScore(Tables.documents(s, dir))
    },
    // Calibration report (E143): reliability diagram of the langid
    // classifier — confidence = score_top/(score_top+score_second) in 2²⁰
    // fp, correctness vs the gold `lang` column, 10 equal-width bins with
    // exact integer ECE numerators.
    "q183_calibration" -> { (s, dir) =>
      import graft.ext.{ExactMath, TextAnalysis}
      val docs = Tables.documents(s, dir)
      val preds = TextAnalysis.langConfusion(docs)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      val denom = col("score_top") + col("score_second")
      val conf = when(denom > 0L,
        ExactMath.floorDiv(col("score_top") * lit(1048576L), denom))
        .otherwise(0L)
      graft.ext.Labeling.calibrationReport(
        preds, conf, col("lang_top") === col("lang"), bins = 10)
    },
    // Padding-efficiency report (E144): power-of-two length buckets with
    // exact pad-waste accounting — the batching-granularity preflight for
    // a training run.
    "q184_padding_efficiency" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      graft.ops.Packing.paddingEfficiency(
        Tables.documents(s, dir)
          .select(TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "n_tokens")
    },
    // Cluster-quality silhouette (E145): per-cell simplified silhouette of
    // the shared k-means quantizer — the gate run before trusting cells
    // for SemDeDup / IVF / diverse selection.
    "q185_silhouette" -> { (s, dir) =>
      graft.ext.Similarity.silhouetteReport(Tables.embeddings(s, dir))
    },
    // B³ dedup-cluster quality (E146): near-dup clusters scored against
    // the source partition — extrinsic precision/recall/F1 for the dedup
    // graph, exact integers.
    "q186_bcubed" -> { (s, dir) =>
      import graft.ext.Dedup
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.nearDuplicates(docs, minJaccard = 0.5).select("id_a", "id_b")
      val cl = Dedup.dedupClusters(pairs).withColumnRenamed("id", "doc_id")
      val assign = docs.select(col("doc_id"), col("source"))
        .join(cl, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("canonical_id"), col("doc_id")))
      graft.ext.GraphStats.bcubed(assign, "doc_id", "cluster", "source")
    },
    // Dedup-threshold sensitivity (E147): the exact Jaccard ≥ 0.5 pair set
    // (3-shingle space — the same element space the near-dup pipeline
    // thresholds on) histogrammed into 1/20-wide bins — what a threshold
    // move actually merges, measured before committing the constant.
    "q187_threshold_sweep" -> { (s, dir) =>
      graft.ext.FuzzyJoin.thresholdSensitivity(
        graft.ext.FuzzyJoin.setSimJoin(
          Tables.documents(s, dir), tNum = 1, tDen = 2, shingleK = 3))
    },
    // Per-source dedup-rate audit (E148): how much each feed loses to
    // near-dup dedup — the fairness gate before shipping a deduplicated
    // corpus.
    "q188_dedup_rate" -> { (s, dir) =>
      graft.ext.Dedup.dedupRateBy(Tables.documents(s, dir), "source")
    },
    // Score-validation AUC (E149): does the quality score actually predict
    // near-dup membership? Mann–Whitney with exact midrank ties, computed
    // over the distinct-value table only.
    "q189_rank_auc" -> { (s, dir) =>
      import graft.ext.{Dedup, TextAnalysis}
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.nearDuplicates(docs, minJaccard = 0.5).select("id_a", "id_b")
      val cl = Dedup.dedupClusters(pairs).withColumnRenamed("id", "doc_id")
      // the per-doc quality-score expression is the heavy pass and rides
      // the single local scan split — spread first (no-op at scale)
      val scored = graft.ext.Spread
        .byKeyPinned(docs.select("doc_id", "text"), col("doc_id"))
        .join(cl, Seq("doc_id"), "left")
        .select(
          floor(TextAnalysis.qualityScore(col("text")) * 1000000.0).cast("long")
            .as("q6"),
          (col("canonical_id").isNotNull && col("canonical_id") =!= col("doc_id"))
            .as("removed"))
      graft.ext.Labeling.rankAuc(scored, "q6", col("removed"))
    },
    // Dedup yield curve (E150): duplicate-pair growth across nested hash
    // subsamples of the corpus — the capacity-planning exponent, measured
    // over the exact shingle-space Jaccard ≥ 0.5 pair set.
    "q190_yield_curve" -> { (s, dir) =>
      graft.ext.Dedup.dedupYieldCurve(
        graft.ext.FuzzyJoin.setSimJoin(
          Tables.documents(s, dir), tNum = 1, tDen = 2, shingleK = 3)
          .select("id_a", "id_b"))
    },
    // JL ±1 random projection (E151): 64→16 dims, map-only native dots
    // against deterministic sign vectors, exploded fixed-point output.
    "q191_jl_project" -> { (s, dir) =>
      graft.ext.Similarity.jlProject(Tables.embeddings(s, dir))
    },
    // Sentence-aware budget chunking (E152): sentence-respecting chunk
    // boundaries at a 40-token budget — the RAG-ingest chunker.
    "q192_sentence_chunks" -> { (s, dir) =>
      graft.ext.Chunking.sentenceChunks(Tables.documents(s, dir))
    },
    // Inter-arrival profile (E153): per-type gap moments + CV² burstiness
    // in exact integers — Poisson vs bursty vs metronome traffic shapes.
    "q193_interarrival" -> { (s, dir) =>
      graft.ops.Coverage.interArrival(Tables.events(s, dir))
    },
    // Per-source quality trend (E154a): OLS slope of the quality score
    // over doc_id (ingest order) per feed — "is this feed degrading".
    "q194_quality_trend" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          floor(TextAnalysis.qualityScore(col("text")) * 1000000.0).cast("long")
            .as("q6"))
      graft.analyze.Profiler.olsBy(docs, col("doc_id"), col("q6"), "source")
    },
    // Hash-uniformity audit (E154): exact chi-square numerator of the
    // stableHash bucket occupancy — validates every hash gate the library
    // ships (splits, subsamples, epoch shuffles) on the real id population.
    "q195_hash_uniformity" -> { (s, dir) =>
      graft.ext.Sampling.hashUniformity(Tables.documents(s, dir), "doc_id")
    },
    // MinHash calibration (E155): exact-Jaccard distribution per
    // signature-agreement bucket over the LSH candidates — the sketch
    // truthfulness audit.
    "q196_minhash_calibration" -> { (s, dir) =>
      graft.ext.Dedup.minhashCalibration(Tables.documents(s, dir))
    },
    // Tokenizer fertility (E156): BPE-ish tokens per whitespace word, per
    // language — the "how expensive is this language for my tokenizer"
    // planning table.
    "q197_fertility" -> { (s, dir) =>
      import graft.ext.{ExactMath, TextAnalysis}
      Tables.documents(s, dir)
        .select(col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("w"),
          TextAnalysis.bpeTokenCount(col("text")).cast("long").as("b"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("w")).cast("long").as("sum_words"),
          sum(col("b")).cast("long").as("sum_bpe"),
          ExactMath.floorDiv(sum(col("b")) * lit(1048576L), sum(col("w")))
            .as("fertility_fp"))
    },
    // Language mixing (E157): sentence-level langid votes per doc —
    // code-switching / concatenation-bug detector that doc-level argmax
    // cannot see.
    "q198_lang_mixing" -> { (s, dir) =>
      graft.ext.TextAnalysis.langMixing(Tables.documents(s, dir))
    },
    // Dependence audit (E158): quality-quintile × length-quintile exact
    // contingency deviation — "is the quality score just length in
    // disguise?" measured before a scoring gate ships.
    "q199_dependence_audit" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      val d = Tables.documents(s, dir).select(
        floor(TextAnalysis.qualityScore(col("text")) * 1000000.0).cast("long")
          .as("q6"),
        col("n_chars"))
      graft.analyze.Profiler.dependenceAudit(d, "q6", "n_chars", buckets = 5)
    },
    // Release scorecard (E159): every corpus gate in one row — counts and
    // exact shares for code-likeness, language mixing, near-dup removal,
    // plus mean quality.
    "q200_release_scorecard" -> { (s, dir) =>
      graft.ext.CorpusPipeline.releaseScorecard(Tables.documents(s, dir))
    },
    // Cluster-size profile (E160): the near-dup cluster size distribution
    // incl. untouched singletons — template spam vs pair noise at a glance.
    "q201_cluster_sizes" -> { (s, dir) =>
      graft.ext.Dedup.clusterSizeProfile(Tables.documents(s, dir))
    },
    // Corpus redundancy mass (E161): the shingle-occurrence share living in
    // cross-doc repeated shingles, plus the mass exact dedup would remove.
    "q202_redundancy" -> { (s, dir) =>
      graft.ext.Dedup.redundancyMass(Tables.documents(s, dir))
    },
    // Per-label centroid shift (E163): pairwise cosine between quantized
    // label-mean embeddings — embedding-space drift between groups.
    "q203_centroid_shift" -> { (s, dir) =>
      graft.ext.EmbeddingStats.centroidShift(Tables.embeddings(s, dir))
    },
    // SimHash bit-bias audit (E162): per-bit set share across signatures —
    // sketch health for the banded Hamming join.
    "q204_simhash_bias" -> { (s, dir) =>
      graft.ext.Dedup.simhashBitBias(Tables.documents(s, dir))
    },
    // Vocabulary growth (E164): token + shingle vocab across nested hash
    // subsamples — the empirical Heaps curve for tokenizer/index sizing.
    "q205_vocab_growth" -> { (s, dir) =>
      graft.ext.TextAnalysis.vocabGrowth(Tables.documents(s, dir))
    },
    // Split representativeness (E165): (split × lang) exact deviation from
    // independence under the REAL hash splitter — post-split QA.
    "q206_split_representativeness" -> { (s, dir) =>
      graft.ext.Sampling.splitRepresentativeness(
        Tables.documents(s, dir), "doc_id", "lang")
    },
    // Gate-cost sweep (E166): what each quality-decile threshold keeps, in
    // docs AND tokens — the threshold-picking table.
    "q207_gate_cost_sweep" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      val d = Tables.documents(s, dir).select(
        floor(TextAnalysis.qualityScore(col("text")) * 1000000.0).cast("long")
          .as("q6"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("w"))
      graft.ext.Curriculum.gateCostSweep(d, "q6", "w")
    },
    // Contamination scorecard (E167): exact-gram + fuzzy near-dup verdicts
    // per corpus doc against the q131 benchmark split.
    "q208_contamination_scorecard" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.ext.Decontaminate.scorecard(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    },
    // Near-dup pair triage (E168): exact Jaccard + both containments + size
    // ratio over the gray-zone candidate pairs — the threshold-review table.
    "q209_pair_triage" -> { (s, dir) =>
      graft.ext.Dedup.pairTriage(Tables.documents(s, dir))
    },
    // IVF occupancy (E169): vectors per trained quantizer cell with exact
    // shares — index size-health next to q185's shape-health.
    "q210_ivf_occupancy" -> { (s, dir) =>
      graft.ext.Similarity.ivfOccupancy(Tables.embeddings(s, dir))
    },
    // MinHash operating curve (E170): precision/recall of every signature
    // threshold against exact Jaccard ≥ 0.5 over the candidate pairs.
    "q211_minhash_curve" -> { (s, dir) =>
      graft.ext.Dedup.minhashOperatingCurve(Tables.documents(s, dir))
    },
    // Approximate FDs (E171): exact g₃ violation counts for directed
    // column pairs — ranks the near-miss dependencies a boolean FD scan
    // throws away.
    "q212_approx_fds" -> { (s, dir) =>
      graft.analyze.FunctionalDeps.approxDeps(
        Tables.orders(s, dir), "orders",
        Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderstatus"),
          ("o_orderpriority", "o_orderstatus")))
    },
    // Cardinality drift (E172): per-column distinct counts across two
    // deterministic hash halves with exact cross-multiplied deviation —
    // the any-type data-quality canary.
    "q213_cardinality_drift" -> { (s, dir) =>
      graft.ext.Drift.cardinalityDrift(
        Tables.orders(s, dir), "o_orderkey",
        Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"))
    },
    // Correlation matrix (E173): all numeric pairs from one aggregation
    // pass — exact integer moments, deterministic double finish.
    "q214_correlation" -> { (s, dir) =>
      graft.analyze.Profiler.correlationMatrix(
        Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    },
    // Weekly seasonality profile (E174): per (type, iso-weekday, hour)
    // event rates normalized by observed days — the periodic baseline.
    "q215_seasonality" -> { (s, dir) =>
      graft.ops.Coverage.seasonalProfile(Tables.events(s, dir))
    },
    // Per-source length-quality correlation (E175): does quality track
    // length the same way in every feed?
    "q216_correlation_by_source" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      val d = Tables.documents(s, dir).select(
        col("source"), col("n_chars"),
        floor(TextAnalysis.qualityScore(col("text")) * 1000000.0).cast("long")
          .as("q6"))
      graft.analyze.Profiler.correlationBy(d, "source", "n_chars", "q6")
    },
    // Charset profile (E176): per-source character-class composition —
    // the zero-cost markup/code/tables triage.
    "q217_charset_profile" -> { (s, dir) =>
      graft.ext.TextAnalysis.charsetProfile(Tables.documents(s, dir))
    },
    // Saturated BM25 retrieval (E177): tf saturation + length norm over
    // the q98 query terms, log-free idf, per-term fixed-point floors.
    "q218_bm25" -> { (s, dir) =>
      graft.ext.Retrieval.bm25TopK(
        Tables.documents(s, dir), Seq("spark", "hash", "join", "window"))
    },
    // Per-user activity profile (E178): volume + Simpson type
    // concentration + gap regularity — the bot/scraper triage row.
    "q219_user_profile" -> { (s, dir) =>
      graft.ops.Coverage.userActivityProfile(Tables.events(s, dir))
    },
    // Conversion-lag histogram (E179): first view → first purchase lag in
    // power-of-two second buckets — the attribution-window evidence.
    "q220_conversion_lag" -> { (s, dir) =>
      graft.ops.Coverage.conversionLag(Tables.events(s, dir), "view", "purchase")
    },
    // Top principal direction (E180): integer-exact power iteration on the
    // Gram matrix — the embedding-anisotropy probe.
    "q221_top_pc" -> { (s, dir) =>
      graft.ext.EmbeddingStats.topPrincipalDirection(Tables.embeddings(s, dir))
    },
    // Anisotropy score (E181): Rayleigh share of the dominant direction in
    // the total second moment — the one-number embedding-health verdict.
    "q222_anisotropy" -> { (s, dir) =>
      graft.ext.EmbeddingStats.anisotropyScore(Tables.embeddings(s, dir))
    },
    // Sampled yield-curve estimator (E182): the q190 capacity-planning
    // curve evaluated on a hash-gated ≤20% subsample — exact at each
    // reported fraction (nested gates), never materializing the full
    // τ=0.5 pair set.
    "q223_yield_curve_sampled" -> { (s, dir) =>
      graft.ext.Dedup.dedupYieldCurveSampled(Tables.documents(s, dir))
    },
    // IVF operating curve (E183): recall@5 vs probe cost per nprobe over
    // the shared quantizer — the evidence sweep behind the nprobe default.
    "q224_ivf_curve" -> { (s, dir) =>
      graft.ext.Similarity.ivfOperatingCurve(Tables.embeddings(s, dir))
    },
    // Cost-routed profile (E184): the q60 profile behind the catalog
    // footer-rowcount exact/approx switch — exact multi-distinct below the
    // limit (this oracle), HLL++ no-Expand path above it (PlanSpec).
    "q225_profile_auto" -> { (s, dir) =>
      graft.analyze.Profiler.profileAuto(s, dir, "lineitem",
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    },
    // PQ operating curve (E185): recall@5 of the ADC ranking vs exact-L2
    // truth per subspace count m — the code-size companion of q224's
    // nprobe sweep, so both index knobs carry measured evidence.
    "q226_pq_curve" -> { (s, dir) =>
      graft.ext.ProductQuantizer.pqOperatingCurve(Tables.embeddings(s, dir))
    },
    // Collocation mining (E186): top bigrams by integer-exact lift
    // (PMI's ratio without its engine-dependent log) — phrase/template
    // discovery over the corpus, minCount-guarded against hapax noise.
    "q227_collocations" -> { (s, dir) =>
      graft.ext.TextAnalysis.collocationLift(Tables.documents(s, dir))
    },
    // Multi-probe LSH ANN (E187): one table, queries also probe the
    // lowest-margin bit-flip buckets — lshTopK-table recall at a fraction
    // of the stored/bucketed corpus. Whole pipeline replayed in SQL.
    "q228_multiprobe_lsh" -> { (s, dir) =>
      graft.ext.Similarity.multiProbeTopK(
          Tables.embeddings(s, dir), k = 5, dim = 64, probes = 3)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
    },
    // Cosine threshold sweep (E188): exact pair counts per cosine bin over
    // a 20% hash subsample — the evidence behind a semantic-dedup τ, the
    // embedding-space analog of q187's Jaccard sweep.
    "q229_cosine_sweep" -> { (s, dir) =>
      graft.ext.Similarity.cosineThresholdSweep(Tables.embeddings(s, dir))
    },
    // CMS error profile (E189): the sketch's one-sided overestimate
    // distribution over the full shingle vocabulary — collision-rate
    // evidence behind the q89 defaults, per power-of-two error bucket.
    "q230_cms_error_profile" -> { (s, dir) =>
      // shingling is the heaviest per-row pass here and rides the scan's
      // few local splits — spread the docs first (no-op at scale)
      val shingles = graft.ext.Spread
        .byKeyPinned(Tables.documents(s, dir).select("doc_id", "text"), col("doc_id"))
        .select(explode(
          graft.ext.Dedup.shingles(lower(col("text")), 3)).as("shingle"))
      graft.ext.Sketches.cmsErrorProfile(shingles, "shingle")
    },
    // Shard-balance audit (E190): per-shard doc/token mass under the hash
    // sharding a corpus writer uses, with exact signed deviations — the
    // balance check before publishing N shard files.
    "q231_shard_balance" -> { (s, dir) =>
      graft.ext.Sampling.shardBalance(Tables.documents(s, dir), nShards = 16)
    },
    // Boundary-overlap chaining (E191): docs whose last 3 words equal
    // another doc's first 3 — crawl-pagination fragments near-dup passes
    // can't see (fragments share only the boundary).
    "q232_boundary_chains" -> { (s, dir) =>
      graft.ext.Dedup.boundaryChains(Tables.documents(s, dir), k = 3)
    },
    // Source-cap waterfilling (E192): the exact integer level L such that
    // capping every source at L spends the token budget — "no feed
    // dominates" with a derived cap, not a hand-picked one.
    "q233_source_caps" -> { (s, dir) =>
      graft.ext.Sampling.capSources(Tables.documents(s, dir), budgetTokens = 150000L)
    },
    // Source concentration (E193): exact fixed-point HHI of the token mass
    // plus the top feed and its share — whether the mix is concentrated;
    // q233's waterfilling says what cap fixes it.
    "q234_source_concentration" -> { (s, dir) =>
      graft.ext.Sampling.sourceConcentration(Tables.documents(s, dir))
    },
    // MMR diverse selection (E194): greedy λ=7/10 maximal-marginal-
    // relevance top-5 for query vector 0 — result-list dedup for
    // retrieval. The oracle unrolls all 5 greedy steps.
    "q235_mmr_select" -> { (s, dir) =>
      graft.ext.Similarity.mmrSelect(Tables.embeddings(s, dir), queryId = 0L, k = 5)
    },
    // Change-point detection (E196): per event type, the hour where the
    // CUSUM deviation |S_r·T − r·S| of the rate sequence peaks — WHEN the
    // feed changed, not just whether two snapshots differ.
    "q236_change_point" -> { (s, dir) =>
      graft.ext.Drift.changePoint(Tables.events(s, dir))
    },
    // Association rules (E195): both orientations of the q119 itemsets
    // with exact fixed-point confidence and lift — the report Apriori
    // exists to produce, top-50 by lift.
    "q237_association_rules" -> { (s, dir) =>
      graft.ops.CoOccurrence.rules(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", minSupport = 3L)
    },
    // PCM16 windowed energy (E197): a REAL audio decode in the engine —
    // bytes parse as little-endian int16 samples via hex (identical in
    // both engines), per-window exact Σv² energy. Limited to 100 assets
    // so the oracle's per-sample expansion stays cheap.
    "q238_pcm_energy" -> { (s, dir) =>
      graft.ext.Multimodal.pcmWindowEnergy(
        graft.ext.Multimodal.documentsAsAssets(
          Tables.documents(s, dir).filter(col("doc_id") < 100)),
        windowSamples = 16)
    },
    // HLL accuracy audit (E199): exact distinct vs the bit-portable raw
    // HLL estimate per column — the measured evidence behind profileAuto's
    // sketch routing; completes the sketch-health trilogy (q196, q230).
    "q239_hll_audit" -> { (s, dir) =>
      graft.ext.Sketches.hllColumnAudit(
        Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_linestatus", "l_shipdate"))
    },
    // Audience overlap (E200): exact distinct-user intersection + Jaccard
    // per event-type pair — the segment-overlap read behind funnels.
    "q240_audience_overlap" -> { (s, dir) =>
      graft.ops.Coverage.audienceOverlap(Tables.events(s, dir))
    },
    // BMP decode stats (E201): a REAL image codec in the engine, the
    // second fixed-layout format after q238's PCM16 — documents encode as
    // valid uncompressed 24-bpp BMPs (width 6 → stride 20, so every row
    // carries 2 reader-skipped pad bytes), then bmpStats re-parses the
    // header and walks the pixel array via hex arithmetic: exact BGR
    // channel sums + fixed-point mean luma. Encode AND decode replay in
    // the oracle. Limited to 120 assets to bound the per-pixel expansion.
    "q241_bmp_stats" -> { (s, dir) =>
      // the boundary between codec halves is load-bearing twice over: the
      // repartition spreads the per-pixel decode walk across cores (decode
      // cost is w·h rows per asset, far heavier than the encode
      // projection), and the localCheckpoint severs the lineage — without
      // it predicate pushdown drags the decode's header-validity filter
      // down onto the encode projection, where scan-collapse inlines the
      // 15-field encode expression into every header-byte access (21×),
      // recomputing the encode per field and blowing the generated code
      // past Janino's 64 KB method limit into interpreted fallback. A real
      // pipeline has this boundary naturally: encoded assets come back off
      // storage.
      graft.ext.Multimodal.bmpStats(
        graft.ext.Multimodal.encodeBmp(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 120)),
          width = 6)
          .repartition(col("asset_id"))
          .localCheckpoint())
    },
    // PCM16 zero-crossing + peak windows (E202): the other two classic
    // VAD features next to q238's energy — exact sign-change counts per
    // window (each row decodes its own sample AND its successor, so no
    // window function, no sample-stream sort) and exact peak |v|.
    "q243_pcm_zero_cross" -> { (s, dir) =>
      graft.ext.Multimodal.pcmZeroCross(
        graft.ext.Multimodal.documentsAsAssets(
          Tables.documents(s, dir).filter(col("doc_id") < 100)),
        windowSamples = 16)
    },
    // Corpus luma exposure histogram over decoded BMPs (E203): 16 bins of
    // per-pixel ITU-R 601 luma with empty bins visible — the all-dark /
    // blown-out triage before any vision model sees pixels. Same decode +
    // boundary discipline as q241.
    "q244_bmp_luma_hist" -> { (s, dir) =>
      graft.ext.Multimodal.bmpLumaHistogram(
        graft.ext.Multimodal.encodeBmp(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 120)),
          width = 6)
          .repartition(col("asset_id"))
          .localCheckpoint())
    },
    // int8 scalar-quantization error audit (E204): exact per-vector
    // reconstruction cost of the 4× embedding compression, fixed-pointed
    // per dim so the totals are order-independent and engine-exact.
    "q245_sq8_error" -> { (s, dir) =>
      graft.ext.ProductQuantizer.sq8ErrorAudit(Tables.embeddings(s, dir))
    },
    // Packing-capacity operating curve (E206): q71's layout cost at five
    // context-window sizes from one shared global prefix sum — bins,
    // straddles, exact wasted tokens, fixed-point fill per capacity.
    "q246_packing_curve" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.ops.Packing.packingCurve(docs, "doc_id", "n_tokens",
        capacities = Seq(512L, 1024L, 2048L, 4096L, 8192L), bucketSize = 64)
    },
    // Contaminated-span islands (E207): does a doc's benchmark-gram overlap
    // form one pasted verbatim run or scattered coincidental 3-grams —
    // positional grams against the broadcast src0 gram set, maximal
    // consecutive islands via pos − row_number, longest run + start.
    "q247_contaminated_spans" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.ext.Decontaminate.contaminatedSpans(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        n = 3)
    },
    // Sorted-neighborhood near-dup candidates (E208): simhash-ordered
    // neighbor scan (Hernández–Stolfo blocking) — exactly window·n pairs
    // regardless of skew, exact Hamming verify; the cost-bounded
    // complement to q178's banding.
    "q248_sorted_neighbors" -> { (s, dir) =>
      graft.ext.Dedup.sortedNeighborPairs(Tables.documents(s, dir),
        window = 3, maxHamming = 20, bucketBits = 4)
    },
    // All-but-the-top spectral audit (E209): q222's top-direction share
    // plus the residual anisotropy after deflating that direction — would
    // the standard remove-top-PC correction fix cosine similarity here.
    "q249_all_but_top" -> { (s, dir) =>
      graft.ext.EmbeddingStats.allButTopAudit(Tables.embeddings(s, dir))
    },
    // Winnowed fingerprints (E210, MOSS): per-window minimal gram hash
    // (ties → rightmost), per-doc selection density + cross-doc sharing.
    "q250_winnow_fingerprints" -> { (s, dir) =>
      graft.ext.Dedup.winnowFingerprints(Tables.documents(s, dir), k = 4, w = 4)
    },
    // Cross-source span-copy matrix (E214): source pairs sharing winnowed
    // fingerprints — span-granular "who copies whom", vs q109's whole-doc
    // near-dup matrix.
    "q255_winnow_source_matrix" -> { (s, dir) =>
      graft.ext.Dedup.winnowSourceMatrix(Tables.documents(s, dir), k = 4, w = 4)
    },
    // Contamination masking rewrite (E215): ACT on q247 — every token
    // covered by a benchmark gram replaced one-for-one, per-doc rewrite
    // manifest (counts + md5 of the masked text).
    "q256_mask_contamination" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.ext.Decontaminate.maskContaminatedSpans(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        n = 3)
    },
    // Tokenizer economics per source (E211): bytes/chars/words/BPE-token
    // mass with fixed-point compression + fertility ratios.
    "q251_tokenizer_economics" -> { (s, dir) =>
      graft.ext.TextAnalysis.tokenizerEconomics(Tables.documents(s, dir))
    },
    // 2-core of the near-dup graph (E212): template farms survive the
    // peel, accidental one-partner dups do not. Driver peel loop with
    // lineage truncation; the oracle unrolls 8 idempotent rounds.
    "q252_dup_kcore" -> { (s, dir) =>
      graft.ext.GraphStats.kCore(
        graft.ext.Dedup.nearDuplicates(Tables.documents(s, dir), minJaccard = 0.5)
          .select("id_a", "id_b"),
        k = 2)
    },
    // RIFF/WAVE container parse (E213): real chunk-walking audio-container
    // decode — magic + fmt fields, data-chunk location, exact frame count
    // and duration. Same encode→boundary→decode discipline as q241.
    "q253_wav_stats" -> { (s, dir) =>
      graft.ext.Multimodal.wavStats(
        graft.ext.Multimodal.encodeWav(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 150)))
          .repartition(col("asset_id"))
          .localCheckpoint())
    },
    // G.711 mu-law (E283): WAVE format 7, one companded byte per sample,
    // expanded to linear PCM by the public ITU-T segment formula (the
    // telephony-lake wire). The oracle replays the exact expansion —
    // complement, power-of-two segment table, bias 132 — per raw byte.
    // WAVE_FORMAT_EXTENSIBLE (E298): the modern PCM header (0xFFFE,
    // 40-byte fmt chunk, cbSize 22, the PCM GUID) — the shape real
    // writers emit for multichannel audio; the old parse would have
    // false-invalidated it. The header changes, the samples never do:
    // same oracle as q349 VERBATIM.
    "q356_wav_extensible" -> { (s, dir) =>
      graft.ext.Multimodal.wavChannelStats(
        graft.ext.Multimodal.encodeWav(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 150)),
          channels = 2, extensible = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("n_frames"), col("sum_l"),
          col("sum_r"), col("sum_abs_l"), col("sum_abs_r"),
          col("sum_if"))
    },
    // AIFF (E294): the SECOND audio container family — big-endian EA
    // IFF 85 (FORM/COMM/SSND), the 80-bit extended sample rate decoded
    // by exact integer bit arithmetic, and BIG-endian samples: the same
    // payload bytes mean different samples than in WAV, which is what
    // the oracle replays.
    "q350_aiff_stats" -> { (s, dir) =>
      graft.ext.Multimodal.aiffStats(
        graft.ext.Multimodal.encodeAiff(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 150)),
          channels = 1)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_channels"),
          col("sample_rate"), col("n_frames"), col("sum_s"),
          col("sum_abs"), col("sum_if"), col("sum_l"), col("sum_r"))
    },
    // Stereo AIFF (E294): interleaved big-endian frames, channel sums
    // split, frame weighting pinning the interleave order.
    "q351_aiff_stereo" -> { (s, dir) =>
      graft.ext.Multimodal.aiffStats(
        graft.ext.Multimodal.encodeAiff(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 150)),
          channels = 2)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_channels"),
          col("sample_rate"), col("n_frames"), col("sum_s"),
          col("sum_abs"), col("sum_if"), col("sum_l"), col("sum_r"))
    },
    // STEREO WAV (E293): 2-channel interleaved PCM16 — per-channel
    // sums off whole block-aligned frames; sum_if pins the interleave
    // order (an L/R swap or frame misalignment is hash-visible).
    "q349_wav_stereo" -> { (s, dir) =>
      graft.ext.Multimodal.wavChannelStats(
        graft.ext.Multimodal.encodeWav(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 150)),
          channels = 2)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("n_frames"), col("sum_l"),
          col("sum_r"), col("sum_abs_l"), col("sum_abs_r"),
          col("sum_if"))
    },
    "q334_wav_ulaw" -> { (s, dir) =>
      graft.ext.Multimodal.g711Stats(
        graft.ext.Multimodal.encodeWav(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 150)),
          fmt = 7)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("law"), col("n_samples"),
          col("sum_s"), col("sum_abs"))
    },
    // G.711 A-law (E283): WAVE format 6 — xor 0x55, segment CASE, sign
    // bit SET means positive; the format FIELD drives which expansion
    // runs (one surface, both laws, like a real reader).
    "q335_wav_alaw" -> { (s, dir) =>
      graft.ext.Multimodal.g711Stats(
        graft.ext.Multimodal.encodeWav(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 150)),
          fmt = 6)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("law"), col("n_samples"),
          col("sum_s"), col("sum_abs"))
    },
    // Windowed PCM energy THROUGH the container (E213): q238's per-sample
    // decode walk driven by the parsed data-chunk offset.
    "q254_wav_energy" -> { (s, dir) =>
      graft.ext.Multimodal.wavWindowEnergy(
        graft.ext.Multimodal.encodeWav(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 100)))
          .repartition(col("asset_id"))
          .localCheckpoint(),
        windowSamples = 16)
    },
    // Binary PPM (P6) decode stats (E216): the third arithmetic image
    // codec — ASCII header parsed in HEX SPACE (digit runs are "3x" hex
    // pairs), then the SAME two-level pixel walk as q241, with unpadded
    // RGB instead of padded BGR: the walk is format-generic. Same
    // encode→boundary→decode discipline as q241.
    "q257_ppm_stats" -> { (s, dir) =>
      graft.ext.Multimodal.ppmStats(
        graft.ext.Multimodal.encodePpm(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 120)),
          width = 6)
          .repartition(col("asset_id"))
          .localCheckpoint())
    },
    // Exact longest shared verbatim run per near-dup pair (E217):
    // candidate pairs anchored on shared winnowed fingerprints (q250's
    // machinery), exact runs from matching positional grams grouped by
    // diagonal — the Lee-et-al exact-substring evidence q209's
    // containment triage approximates.
    "q258_shared_runs" -> { (s, dir) =>
      graft.ext.Dedup.winnowSharedRuns(Tables.documents(s, dir), k = 4, w = 4)
    },
    // Per-pair verbatim-coverage + containment direction (E218): how much
    // of EACH side the shared material covers (union of all islands, not
    // just the longest) — quote/fragment pairs read as a_in_b, twins as
    // mutual; the duplicated-mass evidence behind keep-best decisions.
    "q259_pair_coverage" -> { (s, dir) =>
      graft.ext.Dedup.winnowPairCoverage(Tables.documents(s, dir), k = 4, w = 4)
    },
    // QOI decode stats (E219): the first COMPRESSED image format decoded
    // fully in-engine — run-length + recency-index + delta ops, no
    // entropy coding, so it's a native-expression state machine instead
    // of a codec library. Same encode→boundary→decode discipline as
    // q241/q257; the oracle computes the same channel sums straight from
    // the raw payload bytes (encode∘decode is pixel-identity — any
    // non-self-cancelling codec bug breaks the sums, and byte-exact op
    // streams are pinned separately in QoiCodecSpec).
    "q260_qoi_stats" -> { (s, dir) =>
      graft.ext.Multimodal.qoiStats(
        graft.ext.Multimodal.encodeQoi(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 120)),
          width = 6)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_r"), col("sum_g"),
          col("sum_b"), col("mean_luma_milli"))
    },
    // QOI compression economics per source (E219's corpus view): exact
    // compressed-vs-raw totals + the op mix. No SQL oracle CAN exist —
    // the compressed size depends on the encoder's sequential index
    // state, which SQL can't replay; correctness of the sizes is pinned
    // by QoiCodecSpec's byte-exact known-vector streams instead, and the
    // driver records this one as a rows-only check by design.
    "q261_qoi_compression" -> { (s, dir) =>
      graft.ext.Multimodal.qoiCompressionBySource(
        graft.ext.Multimodal.documentsAsAssets(
          Tables.documents(s, dir).filter(col("doc_id") < 200)),
        width = 6)
    },
    // Perceptual image hash through the real decode (E220): dHash 9x8
    // grid off the BMP pixel walk; width 16 so the grid is defined
    // (dHash needs >= 9 columns). Same encode→boundary→decode discipline
    // as q241.
    "q262_image_dhash" -> { (s, dir) =>
      graft.ext.Multimodal.bmpDHash(
        graft.ext.Multimodal.encodeBmp(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 150)),
          width = 16)
          .repartition(col("asset_id"))
          .localCheckpoint())
    },
    // Perceptual near-dup image pairs (E221, 128-bit fingerprint E230):
    // corpus ∪ perturbed variants (nine bytes appended — usually invisible
    // to the fixed grids, so each variant lands within a few bits of its
    // base), then the 8x16-bit-band LSH join over the four bmpDHash128
    // words at hamming <= 6. The oracle verifies with an all-pairs scan —
    // band candidate generation is LOSSLESS at this threshold (pigeonhole:
    // 6 < 8 bands), so the sets must be equal.
    "q263_dhash_near_dup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 150)
        .select(col("doc_id"), col("text"), col("source"))
      val variants = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" " * 9)).as("text"), col("source"))
      graft.ext.Multimodal.dhashNearDup(
        graft.ext.Multimodal.bmpDHash128(
          graft.ext.Multimodal.encodeBmp(
            graft.ext.Multimodal.documentsAsAssets(
              docs.unionByName(variants)),
            width = 16)
            .repartition(col("asset_id"))
            .localCheckpoint()),
        maxHamming = 6)
    },
    // Audio energy-contour fingerprint (E222): the 1-D dHash analog over
    // the PCM16 decode — 65 prefix windows, 64 rising/falling bits.
    // windowSamples=2 because the documents-as-audio stand-ins are short;
    // real audio uses the default 16.
    "q264_audio_fingerprint" -> { (s, dir) =>
      graft.ext.Multimodal.audioFingerprint(
        graft.ext.Multimodal.documentsAsAssets(
          Tables.documents(s, dir).filter(col("doc_id") < 200)),
        windowSamples = 2)
    },
    // Perceptual audio near-dup pairs (E223, 128-bit fingerprint E230):
    // corpus ∪ one-character mid-stream edits — the contour bits flip only
    // around the touched windows, so each variant lands within a few bits
    // of its base — then the SAME lossless 16-bit-band join as q263, over
    // the four audioFingerprint128 words. windowSamples=1 keeps the
    // 129-window prefix (258 bytes) inside the documents-as-audio
    // stand-ins' lengths; real audio uses the default 16.
    "q265_audio_near_dup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"), col("source"))
      val variants = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        expr("concat(substr(text, 1, 100), '~', substr(text, 102))").as("text"),
        col("source"))
      graft.ext.Multimodal.fingerprintNearDup(
        graft.ext.Multimodal.audioFingerprint128(
          graft.ext.Multimodal.documentsAsAssets(docs.unionByName(variants))
            // spread the per-asset synthesis+window walk across cores: the
            // single-split local scan otherwise runs it serially (q270/q274's
            // established repartition(asset_id) boundary; at scale the scan
            // arrives multi-split and this is a cheap same-key reshuffle)
            .repartition(col("asset_id")),
          windowSamples = 1),
        Seq("f0", "f1", "f2", "f3"), maxHamming = 6)
    },
    // Per-frame luma through the real Y4M container parse (E224): the
    // video sibling of q241/q257 — ASCII header in hex space, bounded
    // three-level frame/row/column walk, per-frame marker verification.
    // Same encode→boundary→decode discipline as q241.
    "q266_y4m_frames" -> { (s, dir) =>
      graft.ext.Multimodal.y4mFrameLuma(
        graft.ext.Multimodal.encodeY4m(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 150)),
          width = 6, height = 4)
          .repartition(col("asset_id"))
          .localCheckpoint())
    },
    // Scene-cut detection through the container (E225): adjacent-frame
    // mean-luma deltas, cuts at >= 5000 milli — the hard-cut detector
    // run before sampling training frames; lag window per asset over the
    // per-frame aggregate, never pixels.
    "q267_scene_cuts" -> { (s, dir) =>
      graft.ext.Multimodal.y4mSceneCuts(
        graft.ext.Multimodal.encodeY4m(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 150)),
          width = 6, height = 4)
          .repartition(col("asset_id"))
          .localCheckpoint(),
        thresholdMilli = 5000L)
    },
    // PNG decode stats (E226): the first ENTROPY-CODED format decoded
    // fully in-engine — CRC-verified chunk walk, IDAT inflate via the
    // JDK's java.util.zip (stdlib, not a codec library), and the five
    // per-row unfilters. Same encode→boundary→decode discipline and the
    // same pixel-identity oracle shape as q260: the expected channel sums
    // come straight from the raw payload bytes, so any non-self-
    // cancelling filter/inflate bug breaks the sums (the filter math is
    // additionally pinned per type on hand-built streams in PngCodecSpec).
    "q268_png_stats" -> { (s, dir) =>
      graft.ext.Multimodal.pngStats(
        graft.ext.Multimodal.encodePng(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 130)),
          width = 6)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_r"), col("sum_g"),
          col("sum_b"), col("mean_luma_milli"))
    },
    // PALETTE PNG (E281): color type 3 — the dominant small-image wire.
    // Pixels are PLTE indices; the decoder resolves each through the
    // palette (OOB indices reject), so only a real palette lookup
    // reproduces the three independent channel maps (i, 255-i, 7i mod
    // 256) the oracle replays in SQL.
    "q331_png_palette" -> { (s, dir) =>
      graft.ext.Multimodal.pngStats(
        graft.ext.Multimodal.encodePng(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 130)),
          width = 40, colorType = 3)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_r"), col("sum_g"),
          col("sum_b"), col("mean_luma_milli"), col("sum_rowv"))
    },
    // GRAYSCALE PNG (E281): color type 0 — one byte per pixel, r=g=b;
    // row/col-weighted sums pin pixel placement.
    "q332_png_gray" -> { (s, dir) =>
      graft.ext.Multimodal.pngStats(
        graft.ext.Multimodal.encodePng(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 130)),
          width = 40, colorType = 0)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_r"),
          col("mean_luma_milli"), col("sum_rowv"), col("sum_colv"))
    },
    // ADAM7-INTERLACED PNG (E282): the seven-pass wire real encoders
    // emit for progressive rendering. Channel sums match q268's oracle
    // (same pixels); the row/col-weighted sums are the DEINTERLACING
    // placement proof — a decoder that mis-places any pass matches the
    // plain sums but not these.
    "q333_png_adam7" -> { (s, dir) =>
      graft.ext.Multimodal.pngStats(
        graft.ext.Multimodal.encodePng(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 130)),
          width = 6, interlaced = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_r"), col("sum_g"),
          col("sum_b"), col("mean_luma_milli"), col("sum_rowv"),
          col("sum_colv"), col("interlaced"))
    },
    // RLE8 BMP (E287): the compressed BMP wire (variable-length, so a
    // native walk where the uncompressed surface is SQL arithmetic) —
    // encoded + absolute modes, EOL/EOB escapes, bottom-up rows. The
    // oracle replays the palette rule off raw payload bytes; the
    // row-weighted sum in IMAGE coordinates proves the vertical flip.
    "q341_bmp_rle8" -> { (s, dir) =>
      graft.ext.Multimodal.bmpRle8Stats(
        graft.ext.Multimodal.encodeBmpRle8(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 130)),
          width = 40)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_r"), col("sum_g"),
          col("sum_b"), col("mean_luma_milli"), col("sum_rowv"),
          col("sum_colv"))
    },
    // ICO container (E297): the favicon wire — PNG and classic-DIB
    // members in one directory, dispatched per member and audited for
    // exact tiling and entry-vs-content geometry; stacked-screen row
    // weighting pins member order AND the DIB flip; the AND mask is
    // counted coverage that never reaches the channel sums.
    "q354_ico_stats" -> { (s, dir) =>
      graft.ext.Multimodal.icoStats(
        graft.ext.Multimodal.encodeIco(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 130)),
          width = 8)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_images"),
          col("n_png"), col("n_dib"), col("n_pixels"), col("sum_r"),
          col("sum_g"), col("sum_b"), col("sum_rowv"),
          col("n_transparent"))
    },
    // RLE4 BMP (E291): the 16-color RLE wire — encoded runs ALTERNATE
    // the value byte's nibbles (the dithering mode RLE8 lacks),
    // absolute runs pack nibbles high-first with required-zero pads.
    // Pixel index = payload byte mod 16; same flip-proof weighting.
    "q346_bmp_rle4" -> { (s, dir) =>
      graft.ext.Multimodal.bmpRle4Stats(
        graft.ext.Multimodal.encodeBmpRle4(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 130)),
          width = 40)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_r"), col("sum_g"),
          col("sum_b"), col("mean_luma_milli"), col("sum_rowv"),
          col("sum_colv"))
    },
    // PACKED 4-BIT PALETTE PNG (E290): the tiny-palette wire (icons,
    // screenshots, fax-era scans) — two pixels per byte, MSB-first,
    // a 16-entry PLTE (the spec's 2^depth cap), filters on the packed
    // bytes. Pixel i's index is payload byte i mod 16, so the oracle
    // replays the palette maps off raw bytes; sum_colv pins the
    // BIT-ORDER (an LSB-first decoder swaps column weights).
    "q344_png_pal4" -> { (s, dir) =>
      graft.ext.Multimodal.pngStats(
        graft.ext.Multimodal.encodePng(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 130)),
          width = 40, colorType = 3, depth = 4)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_r"), col("sum_g"),
          col("sum_b"), col("mean_luma_milli"), col("sum_rowv"),
          col("sum_colv"))
    },
    // BILEVEL (1-BIT) PNG (E290): the scanned-document wire — eight
    // pixels per byte. Pixel i = payload byte i mod 2.
    "q345_png_gray1" -> { (s, dir) =>
      graft.ext.Multimodal.pngStats(
        graft.ext.Multimodal.encodePng(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 130)),
          width = 40, colorType = 0, depth = 1)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_r"),
          col("mean_luma_milli"), col("sum_rowv"), col("sum_colv"))
    },
    // 16-BIT GRAYSCALE PNG (E285): the science/photography width —
    // big-endian sample pairs, filters on the 2-byte stride per spec.
    // The oracle reads each sample as 256*hi + lo off the raw payload.
    "q338_png_gray16" -> { (s, dir) =>
      graft.ext.Multimodal.pngStats(
        graft.ext.Multimodal.encodePng(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 130)),
          width = 20, colorType = 0, depth = 16)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_r"),
          col("mean_luma_milli"), col("sum_rowv"), col("sum_colv"))
    },
    // GRAY+ALPHA PNG (E285): color type 4 — the gray sample carries the
    // stats, alpha is coverage (the RGBA stance); filters on the
    // 2-byte stride.
    "q339_png_graya" -> { (s, dir) =>
      graft.ext.Multimodal.pngStats(
        graft.ext.Multimodal.encodePng(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 130)),
          width = 20, colorType = 4)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_r"),
          col("mean_luma_milli"), col("sum_rowv"), col("sum_colv"))
    },
    // Fingerprint band join over the WHOLE corpus (E221/E230's scale
    // twin): identical semantics to q263 but with no doc_id cap, so
    // ScaleBench can fit its growth exponent on replicated corpora. The
    // 128-bit fingerprint's 8x16-bit bands give 65,536 keys per band, so
    // on content-disjoint (uniform-model) growth bucket cardinality grows
    // with the corpus and candidate mass stays near-linear — the 64-bit
    // predecessor's 256-key bands saturated here and forced an honest
    // ~k² bound; on verbatim-duplicate (dupheavy) growth every replica
    // set shares one fingerprint, so pair mass k² IS the documented
    // driver and block salting bounds any single task at ~bucketCap².
    "q269_dhash_scale" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val variants = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" " * 9)).as("text"), col("source"))
      graft.ext.Multimodal.dhashNearDup(
        graft.ext.Multimodal.bmpDHash128(
          graft.ext.Multimodal.encodeBmp(
            graft.ext.Multimodal.documentsAsAssets(
              docs.unionByName(variants)),
            width = 16)
            .repartition(col("asset_id"))
            .localCheckpoint()),
        maxHamming = 6)
    },
    // Lossless-JPEG decode stats (E229): the second entropy-coded format
    // decoded fully in-engine, this time with GENUINE HUFFMAN DECODING
    // (DHT table parse + byte-stuffed bitstream + difference categories).
    // The lossless process is pixel-identity, so the q260/q268 oracle
    // shape applies: expected stats computed straight from the raw
    // payload (grayscale: the bytes themselves), width 40 ⇒ 40 bytes/row.
    "q271_jpegll_stats" -> { (s, dir) =>
      graft.ext.Multimodal.jpegStats(
        graft.ext.Multimodal.encodeJpegLossless(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"),
          col("mean_v_milli"), col("predictor"))
    },
    // Baseline (lossy, DCT) JPEG decode stats (E231): the third entropy-
    // coded format decoded fully in-engine — genuine T.81 sequential DCT
    // with DC-predicted + run/size AC Huffman coding. The oracle replays
    // the ENTIRE integer pipeline (level shift → fixed-point FDCT →
    // quantize → dequantize → IDCT → clamp) per 8x8 block in DuckDB
    // straight from the raw payload: Huffman is bijective on the
    // quantized coefficients, so decode∘encode equals the replayed
    // arithmetic exactly — a lossy codec with a hash-exact oracle. The
    // basis and quant constants are embedded from ONE Scala source
    // (JpegDctCodec.basisSqlRows/quantSqlRows), the minhash-coefficient
    // discipline.
    "q272_jpegdct_stats" -> { (s, dir) =>
      graft.ext.Multimodal.jpegDctStats(
        graft.ext.Multimodal.encodeJpegDct(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 8)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"),
          col("mean_v_milli"), col("n_blocks"))
    },
    // YCbCr 4:2:0 baseline JPEG decode stats (E234): q272's pipeline with
    // the interleave real camera files hold — per-component quant tables
    // (Annex-K luminance + chrominance), all four standard Huffman
    // tables, 2x2-Y + Cb + Cr MCUs with per-component DC predictors. The
    // fixture layout is block-sequential (each 384-byte slice = one
    // MCU's six blocks), so the oracle routes the per-block replay by
    // b mod 6 alone and reports exact per-component sums.
    "q275_jpeg420_stats" -> { (s, dir) =>
      graft.ext.Multimodal.jpeg420Stats(
        graft.ext.Multimodal.encodeJpeg420(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)))
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("n_components"),
          col("sum_y"), col("sum_cb"), col("sum_cr"),
          col("mean_y_milli"), col("n_blocks"))
    },
    // 4:2:0 JPEG with DRI restart markers (E235): the error-resilience
    // structure real camera files carry — an RST(m mod 8) marker every 2
    // MCUs, byte-aligned, with every DC predictor reset. Restarts change
    // the STREAM, not the samples, so the oracle is q275's replay
    // verbatim: hash-equality proves the restart machinery (marker
    // modulo sequence, byte alignment, predictor resets on BOTH sides)
    // decodes to the exact same per-component stats.
    "q276_jpeg420_restart_stats" -> { (s, dir) =>
      graft.ext.Multimodal.jpeg420Stats(
        graft.ext.Multimodal.encodeJpeg420(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          restartInterval = 2)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("n_components"),
          col("sum_y"), col("sum_cb"), col("sum_cr"),
          col("mean_y_milli"), col("n_blocks"))
    },
    // YCbCr 4:2:2 baseline JPEG decode stats (E236): the scanner/
    // broadcast sampling shape — luma 2x1, chroma 1x1, four blocks per
    // MCU (Y0 Y1 Cb Cr). Same generalized per-component Hi x Vi MCU walk
    // in the decoder, same parametrized block-position oracle replay
    // (b mod 4 routes the quant table).
    "q277_jpeg422_stats" -> { (s, dir) =>
      graft.ext.Multimodal.jpeg420Stats(
        graft.ext.Multimodal.encodeJpeg422(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)))
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("n_components"),
          col("sum_y"), col("sum_cb"), col("sum_cr"),
          col("mean_y_milli"), col("n_blocks"))
    },
    // YCbCr 4:4:4 baseline JPEG decode stats (E236): the screenshot/
    // high-quality shape — all components 1x1, three blocks per MCU
    // (Y Cb Cr), no subsampling at all (chroma planes are full size).
    "q278_jpeg444_stats" -> { (s, dir) =>
      graft.ext.Multimodal.jpeg420Stats(
        graft.ext.Multimodal.encodeJpeg444(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)))
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("n_components"),
          col("sum_y"), col("sum_cb"), col("sum_cr"),
          col("mean_y_milli"), col("n_blocks"))
    },
    // YCbCr 4:1:1 baseline JPEG decode stats (E242): the DV-camera shape
    // — luma 4x1, the first fixture with a sampling factor ABOVE 2, six
    // blocks per MCU (Y0..Y3 Cb Cr). Same generalized per-component
    // Hi x Vi MCU walk (factors now accepted to T.81's real 1..4 bound
    // with sum(Hi·Vi) <= 10), same parametrized oracle replay.
    "q283_jpeg411_stats" -> { (s, dir) =>
      graft.ext.Multimodal.jpeg420Stats(
        graft.ext.Multimodal.encodeJpeg411(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)))
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("n_components"),
          col("sum_y"), col("sum_cb"), col("sum_cr"),
          col("mean_y_milli"), col("n_blocks"))
    },
    // JPEG metadata surface (E238): JFIF APP0 density + Exif APP1
    // orientation parsed natively (TIFF IFD0 walk, both byte orders).
    // The fixtures derive metadata deterministically from the payload's
    // first bytes, so the oracle reads the EXPECTED values straight off
    // the raw payload while the engine must parse them back out of the
    // stream it encoded — a round-trip proof of the APPn machinery.
    "q280_jpeg_metadata" -> { (s, dir) =>
      graft.ext.Multimodal.jpegMetadata(
        graft.ext.Multimodal.encodeJpegDctMeta(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 8)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("exif_orientation"),
          col("jfif_units"), col("jfif_xdensity"), col("jfif_ydensity"),
          col("n_pixels"))
    },
    // PROGRESSIVE (SOF2) JPEG decode stats (E237): the web-crawl stream
    // shape — six scans (DC first/refine, two AC spectral bands
    // first/refine) with EOBRUN coding and successive-approximation
    // correction bits, decoded through a buffered coefficient plane.
    // Scan structure changes the STREAM, never the coefficients, so the
    // oracle is q272's integer-pipeline replay VERBATIM — hash-equality
    // proves the progressive entropy machinery bijective end to end.
    "q279_jpegprog_stats" -> { (s, dir) =>
      graft.ext.Multimodal.jpegDctStats(
        graft.ext.Multimodal.encodeJpegProgressive(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 8)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"),
          col("mean_v_milli"), col("n_blocks"))
    },
    // Y4M container walk over the WHOLE corpus (E224's scale twin):
    // identical semantics to q266 with no doc_id cap — per-asset native
    // frame walk, cost linear in pixel mass, for ScaleBench's measured
    // exponent.
    "q270_y4m_scale" -> { (s, dir) =>
      graft.ext.Multimodal.y4mFrameLuma(
        graft.ext.Multimodal.encodeY4m(
          graft.ext.Multimodal.documentsAsAssets(Tables.documents(s, dir)),
          width = 6, height = 4)
          .repartition(col("asset_id"))
          .localCheckpoint())
    },
    // Audio fingerprint near-dup over the WHOLE corpus (E223/E230's scale
    // twin, E232): identical semantics to q265 with no doc_id cap, so
    // ScaleBench can fit its growth exponent — the audio sibling of q269.
    "q273_audio_neardup_scale" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val variants = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        expr("concat(substr(text, 1, 100), '~', substr(text, 102))").as("text"),
        col("source"))
      graft.ext.Multimodal.fingerprintNearDup(
        graft.ext.Multimodal.audioFingerprint128(
          // NOT spread: measured at this corpus size (20k assets) the text
          // reshuffle + extra stage barrier cost MORE wall than the serial
          // hex/conv pass (3.17 -> 3.97 s with the spread despite CPU
          // dropping 7.0 -> 2.9) — the opposite of q265's 400-asset case
          graft.ext.Multimodal.documentsAsAssets(docs.unionByName(variants)),
          windowSamples = 1),
        Seq("f0", "f1", "f2", "f3"), maxHamming = 6)
    },
    // PNG decode over the WHOLE corpus (E226's scale twin, E233):
    // identical semantics to q268 with no doc_id cap — one native
    // chunk-walk + inflate + unfilter pass per asset, cost linear in
    // byte mass, for ScaleBench's measured exponent.
    "q274_png_scale" -> { (s, dir) =>
      graft.ext.Multimodal.pngStats(
        graft.ext.Multimodal.encodePng(
          graft.ext.Multimodal.documentsAsAssets(Tables.documents(s, dir)),
          width = 6)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_r"), col("sum_g"),
          col("sum_b"), col("mean_luma_milli"))
    },
    // Whole-corpus DCT-JPEG decode scale twin (E231's measurement): q272
    // with no doc cap — one native entropy-decode + IDCT pass per asset,
    // cost linear in byte mass, the q274 pattern on the newest codec.
    "q281_jpegdct_scale" -> { (s, dir) =>
      graft.ext.Multimodal.jpegDctStats(
        graft.ext.Multimodal.encodeJpegDct(
          graft.ext.Multimodal.documentsAsAssets(Tables.documents(s, dir)),
          width = 8)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"),
          col("mean_v_milli"), col("n_blocks"))
    },
    // MJPEG-in-AVI container demux + per-frame decode (E240): the first
    // VIDEO CONTAINER with real per-frame entropy decoding — strict RIFF
    // walk (avih/strh/strf cross-checks, idx1 replayed against the real
    // chunk offsets), every 00dc chunk decoded by the full baseline-JPEG
    // path. The oracle is q272's block replay truncated to whole 128-byte
    // frames: per-frame Huffman framing is a bijective wrapper that
    // cancels under decode∘encode, so container stats equal raw-payload
    // block arithmetic.
    "q282_mjpeg_avi_stats" -> { (s, dir) =>
      graft.ext.Multimodal.mjpegAviStats(
        graft.ext.Multimodal.encodeMjpegAvi(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 8, frameBytes = 128)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_frames"),
          col("width"), col("frame_height"), col("n_pixels"),
          col("sum_v"), col("mean_v_milli"), col("n_blocks"))
    },
    // WARC demux (E246): the container web crawls actually ship in —
    // plain concatenated records, strict header grammar. The oracle
    // reads record counts / content totals / block byte-sums straight
    // off the whole-record-truncated payload.
    "q288_warc_stats" -> { (s, dir) =>
      graft.ext.Multimodal.warcStats(
        graft.ext.Multimodal.encodeWarc(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          recordBytes = 256)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_records"),
          col("n_responses"), col("content_bytes"), col("sum_payload"))
    },
    // WARC per-record-gzip (E246): the Common Crawl wire shape — gzip
    // members walked with CRC32+ISIZE verification, one record per
    // member. Compression changes the wire, never the records, so q289
    // hash-matches q288's oracle VERBATIM (the q275/q276 discipline).
    "q289_warcgz_stats" -> { (s, dir) =>
      graft.ext.Multimodal.warcStats(
        graft.ext.Multimodal.encodeWarc(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          recordBytes = 256, gz = true)
          .repartition(col("asset_id"))
          .localCheckpoint(),
        gz = true)
        .select(col("asset_id"), col("is_valid"), col("n_records"),
          col("n_responses"), col("content_bytes"), col("sum_payload"))
    },
    // WARC HTTP layer (E250): the block of a crawl response record is an
    // RFC 9112 HTTP message — status line, headers, body — and the body
    // is the document a training pipeline wants. Stats split every
    // request/response block (Content-Length verified) and pair
    // request→response via WARC-Concurrent-To; the oracle reads counts
    // and body sums off raw payload slices (status 200/404 alternates on
    // the slice index by the fixture rule, so n_200 is slice arithmetic).
    "q290_warc_http_stats" -> { (s, dir) =>
      graft.ext.Multimodal.warcHttpStats(
        graft.ext.Multimodal.encodeWarcHttp(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          bodyBytes = 256)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_records"),
          col("n_requests"), col("n_responses"), col("n_200"),
          col("body_bytes"), col("sum_body"), col("n_paired"))
    },
    // WARC HTTP over the record-gzip wire (E250): compression changes
    // the wire, never the records — q291 hash-matches q290's oracle
    // VERBATIM (the q288/q289 discipline one layer up the stack).
    "q291_warc_httpgz_stats" -> { (s, dir) =>
      graft.ext.Multimodal.warcHttpStats(
        graft.ext.Multimodal.encodeWarcHttp(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          bodyBytes = 256, gz = true)
          .repartition(col("asset_id"))
          .localCheckpoint(),
        gz = true)
        .select(col("asset_id"), col("is_valid"), col("n_records"),
          col("n_requests"), col("n_responses"), col("n_200"),
          col("body_bytes"), col("sum_body"), col("n_paired"))
    },
    // WARC HTTP over CHUNKED transfer coding (E257): response bodies on
    // the RFC 9112 §7.1 wire — hex size lines, per-chunk CRLF framing,
    // the 0-size terminator with an empty trailer section — dechunked
    // by the decoder. Chunking changes the wire, never the documents:
    // q303 hash-matches q290's oracle VERBATIM.
    "q303_warc_chunked" -> { (s, dir) =>
      graft.ext.Multimodal.warcHttpStats(
        graft.ext.Multimodal.encodeWarcHttp(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          bodyBytes = 256, chunked = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_records"),
          col("n_requests"), col("n_responses"), col("n_200"),
          col("body_bytes"), col("sum_body"), col("n_paired"))
    },
    // WARC body EXTRACTION fan-out (E250): one row per response record —
    // the crawl-to-documents explode every pipeline runs first. The
    // engine walks the container, inflates nothing (plain wire), parses
    // the HTTP head, and hands back the body; the oracle rebuilds every
    // per-record stat from the corresponding raw payload slice.
    "q292_warc_http_records" -> { (s, dir) =>
      graft.ext.Multimodal.warcHttpRecords(
        graft.ext.Multimodal.encodeWarcHttp(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          bodyBytes = 256)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("rec_idx"), col("status"),
          col("body_len"), col("body_sum"))
    },
    // WET-style text extraction (E264): the crawl-to-corpus conversion —
    // the q292 body fan-out filtered to HTTP 200s, each body UTF-8
    // decoded and run through the markup-strip pipeline (E109), one
    // text-document row per response with cleaned hash/length/token
    // count. Composes two oracle-green operators; the oracle rebuilds
    // each row from the corresponding raw text slice with the same
    // regex chain (Java∩RE2-portable).
    "q310_warc_wet" -> { (s, dir) =>
      graft.ext.Multimodal.warcTextExtracts(
        graft.ext.Multimodal.encodeWarcHttp(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          bodyBytes = 256)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("rec_idx"), col("clean_hash"),
          col("clean_len"), col("n_tokens"))
    },
    // WAT-style metadata extraction (E277): the third of the
    // WARC/WAT/WET trio — per-response envelope metadata (status, HTTP
    // Content-Type, header count, body length) plus the HTML facts a
    // WAT extractor pulls from the payload: <title>, outlink count, and
    // a digest over the extracted href VALUES in document order. The
    // html fixture wire derives every field from the raw slice, so the
    // oracle rebuilds the page (and its link list) in SQL and must
    // match the engine's actual regex extraction byte for byte.
    "q327_warc_wat" -> { (s, dir) =>
      graft.ext.Multimodal.warcWatExtracts(
        graft.ext.Multimodal.encodeWarcHttp(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          bodyBytes = 256, html = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("rec_idx"), col("status"),
          col("content_type"), col("n_headers"), col("body_len"),
          col("title"), col("n_links"), col("link_hash"))
    },
    // TAR shard demux (E269): the WebDataset packaging shape — USTAR
    // headers with the spec's own checksum audit, strict octal grammar,
    // zero data padding, the two-zero-block end marker. The oracle
    // reads member counts and byte sums off raw payload slices; sum_iv
    // weights by member index, pinning member ORDER.
    "q315_tar_stats" -> { (s, dir) =>
      graft.ext.Multimodal.tarStats(
        graft.ext.Multimodal.encodeTar(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // TAR over the .tar.gz wire (E269): one gzip member over the whole
    // shard (CRC32 + ISIZE verified, incremental zip-bomb bound) —
    // q316 hash-matches q315's oracle VERBATIM (compression changes the
    // wire, never the members).
    "q316_tar_gz" -> { (s, dir) =>
      graft.ext.Multimodal.tarStats(
        graft.ext.Multimodal.encodeTar(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, gz = true)
          .repartition(col("asset_id"))
          .localCheckpoint(),
        gz = true)
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // TAR member EXTRACTION fan-out (E269): one row per member in shard
    // order — the shard-to-samples explode a WebDataset-style pipeline
    // runs first. Member names follow the fixture's doc%05d.txt rule,
    // so the oracle rebuilds them with printf.
    "q317_tar_members" -> { (s, dir) =>
      graft.ext.Multimodal.tarMembers(
        graft.ext.Multimodal.encodeTar(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("member_idx"), col("name"),
          col("size"), col("member_sum"))
    },
    // Whole-corpus tar.gz shard demux scale twin (E269's measurement):
    // q316 with no doc cap — one inflate + header walk per shard,
    // byte-linear with O(1) state beyond the current header.
    "q323_tar_scale" -> { (s, dir) =>
      graft.ext.Multimodal.tarStats(
        graft.ext.Multimodal.encodeTar(
          graft.ext.Multimodal.documentsAsAssets(Tables.documents(s, dir)),
          memberBytes = 100, gz = true)
          .repartition(col("asset_id"))
          .localCheckpoint(),
        gz = true)
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // LZ4 scale twin (E296's measurement): the whole-corpus .tar.lz4
    // demux — the from-scratch block decoder and frame walk must be
    // byte-linear (a quadratic bug in the history-window copy or the
    // sequence walk would surface as a super-linear exponent).
    "q355_lz4_scale" -> { (s, dir) =>
      graft.ext.Multimodal.tarStats(
        graft.ext.Multimodal.encodeTar(
          graft.ext.Multimodal.documentsAsAssets(Tables.documents(s, dir)),
          memberBytes = 100, lz4 = true)
          .repartition(col("asset_id"))
          .localCheckpoint(),
        lz4 = true)
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // WebDataset-style shard INGEST (E273): the q317 member fan-out
    // composed with the text pipeline — the shard-to-training-samples
    // conversion a WebDataset loader performs, over the .tar.gz wire
    // (demux + inflate + extract + normalize + tokenize in ONE pass).
    "q322_tar_ingest" -> { (s, dir) =>
      graft.ext.Multimodal.tarTextIngest(
        graft.ext.Multimodal.encodeTar(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, gz = true)
          .repartition(col("asset_id"))
          .localCheckpoint(),
        gz = true)
        .select(col("asset_id"), col("member_idx"), col("name"),
          col("clean_hash"), col("clean_len"), col("n_tokens"))
    },
    // ZIP archive demux, STORED members (E270): central-directory walk
    // with local-header agreement, exact member tiling to the directory
    // offset, and per-member CRC-32 verification. Same 100-byte member
    // arithmetic as the TAR shards, so q318 hash-matches the q315/q316
    // oracle VERBATIM — four wires (tar, tar.gz, zip, zip-deflate), one
    // member identity.
    "q318_zip_stats" -> { (s, dir) =>
      graft.ext.Multimodal.zipStats(
        graft.ext.Multimodal.encodeZip(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // ZIP with per-member DEFLATE (E270): method 8, inflation bounded
    // by the directory's declared sizes and verified against its
    // CRC-32s — compression changes the wire, never the members.
    "q319_zip_deflate" -> { (s, dir) =>
      graft.ext.Multimodal.zipStats(
        graft.ext.Multimodal.encodeZip(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, deflate = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // ZIP member EXTRACTION + seek table (E280): one row per member in
    // directory order with the data span (offset, comp size, method)
    // alongside the inflated bytes — the central directory used as the
    // random-access index it is. Stored wire, so the oracle pins the
    // offsets by pure layout arithmetic (k*142 + 42) and the sums off
    // raw slices.
    "q330_zip_members" -> { (s, dir) =>
      graft.ext.Multimodal.zipMembers(
        graft.ext.Multimodal.encodeZip(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("member_idx"), col("name"),
          col("size"), col("member_sum"), col("data_offset"),
          col("comp_size"), col("method"))
    },
    // UTF-8 member names (E300): flag bit 11 — what every modern zip
    // tool sets for non-ASCII names; rejecting it was a strict-false-
    // invalid on international archives. The oracle rebuilds the
    // Cyrillic names AND the offsets their 26-BYTE UTF-8 encodings
    // produce (k*156 + 56) — only a real UTF-8 name walk matches both.
    "q358_zip_utf8" -> { (s, dir) =>
      graft.ext.Multimodal.zipMembers(
        graft.ext.Multimodal.encodeZip(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, namePrefix = "документ-")
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("member_idx"), col("name"),
          col("size"), col("member_sum"), col("data_offset"),
          col("comp_size"), col("method"))
    },
    // ZIP shard INGEST (E280's composition): the q330 member fan-out
    // composed with the text pipeline on the DEFLATE wire — the zip
    // twin of q322, same samples (q322's oracle arithmetic, zip names).
    "q337_zip_ingest" -> { (s, dir) =>
      graft.ext.Multimodal.zipTextIngest(
        graft.ext.Multimodal.encodeZip(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, deflate = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("member_idx"), col("name"),
          col("clean_hash"), col("clean_len"), col("n_tokens"))
    },
    // ZIP64 (E275): the zip64-always wire — sentinel sizes/offsets
    // resolved through 0x0001 extras, the EOCD diverted through the
    // ZIP64 locator→record chain, agreement audited end-to-end. The
    // indirection changes the wire, never the members: same oracle as
    // q315/q316/q318/q319 VERBATIM.
    "q325_zip64" -> { (s, dir) =>
      graft.ext.Multimodal.zipStats(
        graft.ext.Multimodal.encodeZip(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, zip64 = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // Streaming-writer ZIP (E276): flag bit 3 + DEFLATE — what a piped
    // `zip` emits when it cannot seek (local CRC/sizes zero, the real
    // values in signature-led descriptors after each member, audited
    // against the central directory). Sixth wire, same member identity.
    "q326_zip_stream" -> { (s, dir) =>
      graft.ext.Multimodal.zipStats(
        graft.ext.Multimodal.encodeZip(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, deflate = true, descriptor = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // Combined zip64-STREAMING wire (E289): flag bit 3 + zip64 together
    // — sentinel local sizes, placeholder-zero 0x0001 extras, and u64
    // trailing descriptors keyed on the extra's presence (APPNOTE
    // 4.3.9.2). The last fenced ZIP shape, removed: seventh wire over
    // the same member identity, same oracle VERBATIM.
    "q343_zip64_stream" -> { (s, dir) =>
      graft.ext.Multimodal.zipStats(
        graft.ext.Multimodal.encodeZip(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, deflate = true, zip64 = true,
          descriptor = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // Shard member INDEX (E279): the WebDataset .idx shape — the seek
    // table a random-access loader builds once per shard (member name,
    // size, data offset in the decompressed stream; NO member bytes).
    // On the pax wire every member is preceded by a metadata block pair
    // the offsets must step over: only a decoder that really walks the
    // pax chain lands on k*2048 + 1536.
    "q329_tar_index" -> { (s, dir) =>
      graft.ext.Multimodal.tarIndex(
        graft.ext.Multimodal.encodeTar(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, pax = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("member_idx"), col("name"),
          col("size"), col("data_offset"))
    },
    // BGZF wire (E286): the RANDOM-ACCESS gzip (the SAM/htslib blocked
    // format) — the tar shard split into <=512-byte gzip members whose
    // BC subfields declare hop distances, ending in the mandatory empty
    // EOF block. Compression changes the wire, never the members: same
    // oracle as q315/q316 VERBATIM.
    "q340_tar_bgzf" -> { (s, dir) =>
      graft.ext.Multimodal.tarStats(
        graft.ext.Multimodal.encodeTar(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, bgzf = true)
          .repartition(col("asset_id"))
          .localCheckpoint(),
        bgzf = true)
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // RFC 1952 header fields (E299): the gzip wire with the FULL
    // optional-field set the real `gzip` tool emits (FEXTRA + FNAME +
    // FCOMMENT + FHCRC, header CRC verified) — FLG = 0-only was a
    // strict-false-invalid on the most common gzip shape. Same oracle
    // VERBATIM.
    "q357_tar_gzname" -> { (s, dir) =>
      graft.ext.Multimodal.tarStats(
        graft.ext.Multimodal.encodeTar(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, gzHdr = true)
          .repartition(col("asset_id"))
          .localCheckpoint(),
        gz = true)
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // LZ4 wire (E296): the .tar.lz4 shape — the SEVENTH compression
    // family (block token grammar + frame format with xxHash32
    // checksums and linked-block windowing, from the public spec
    // documents). Same oracle VERBATIM.
    "q353_tar_lz4" -> { (s, dir) =>
      graft.ext.Multimodal.tarStats(
        graft.ext.Multimodal.encodeTar(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, lz4 = true)
          .repartition(col("asset_id"))
          .localCheckpoint(),
        lz4 = true)
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // Snappy wire (E295): the .tar.sz shape — the SIXTH compression
    // family implemented in-engine (google/snappy block + framing
    // formats from the public spec documents: LZ77 tags with overlap
    // replay, masked CRC-32C chunks). Compression changes the wire,
    // never the members: same oracle VERBATIM.
    "q352_tar_snappy" -> { (s, dir) =>
      graft.ext.Multimodal.tarStats(
        graft.ext.Multimodal.encodeTar(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, snap = true)
          .repartition(col("asset_id"))
          .localCheckpoint(),
        snap = true)
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // Multi-member gzip wire (E288): RFC 1952 §2.2 makes a gzip FILE a
    // SERIES of members — what `pigz -i` and a plain `cat a.gz b.gz`
    // emit. The shard is chunked into 1024-byte slices, each its own
    // complete gzip member (header + raw DEFLATE + CRC32/ISIZE); the
    // old one-member contract was a strict-false-invalid on real
    // parallel-compressor output. Fifth tar wire, same oracle VERBATIM.
    "q342_tar_mgz" -> { (s, dir) =>
      graft.ext.Multimodal.tarStats(
        graft.ext.Multimodal.encodeTar(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, mgz = true)
          .repartition(col("asset_id"))
          .localCheckpoint(),
        gz = true)
        .select(col("asset_id"), col("is_valid"), col("n_members"),
          col("content_bytes"), col("sum_payload"), col("sum_iv"))
    },
    // PAX extended headers (E274): every member preceded by a
    // POSIX.1-2001 'x' header whose path record overrides the 100-byte
    // name field with a 104-char name — the reason real shards carry
    // pax. Member stats are unchanged (pax members are metadata, not
    // samples); only a decoder that really applies the override
    // reproduces the names.
    "q324_tar_pax" -> { (s, dir) =>
      graft.ext.Multimodal.tarMembers(
        graft.ext.Multimodal.encodeTar(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          memberBytes = 100, pax = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("member_idx"), col("name"),
          col("size"), col("member_sum"))
    },
    // Whole-corpus WET-extraction scale twin (E264's measurement): q310
    // with no doc cap — one container walk + HTTP parse + regex chain
    // per response row, byte-linear with no pair stage.
    "q313_wet_scale" -> { (s, dir) =>
      graft.ext.Multimodal.warcTextExtracts(
        graft.ext.Multimodal.encodeWarcHttp(
          graft.ext.Multimodal.documentsAsAssets(Tables.documents(s, dir)),
          bodyBytes = 256)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("rec_idx"), col("clean_hash"),
          col("clean_len"), col("n_tokens"))
    },
    // Whole-corpus WAT-extraction scale twin (E277's measurement): q327
    // with no doc cap — one container walk + HTTP parse + two regex
    // passes per response row, byte-linear with no pair stage.
    "q328_wat_scale" -> { (s, dir) =>
      graft.ext.Multimodal.warcWatExtracts(
        graft.ext.Multimodal.encodeWarcHttp(
          graft.ext.Multimodal.documentsAsAssets(Tables.documents(s, dir)),
          bodyBytes = 256, html = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("rec_idx"), col("status"),
          col("content_type"), col("n_headers"), col("body_len"),
          col("title"), col("n_links"), col("link_hash"))
    },
    // MIXED-PROTOCOL crawl (E263): ISO 28500 allows response records
    // captured from non-HTTP protocols (DNS, FTP, ...) — every fifth
    // slice here is an application/octet-stream response. The RFC 9112
    // parse is gated on Content-Type: application/http, so the opaque
    // records count in n_records/n_responses but contribute nothing to
    // the HTTP stats and NEVER invalidate the archive (the
    // strict-false-invalid class a real mixed crawl would otherwise hit).
    // 32-byte slices so the fixture documents really produce opaque
    // records (slice 4 needs at least 160 payload bytes).
    "q309_warc_mixed" -> { (s, dir) =>
      graft.ext.Multimodal.warcHttpStats(
        graft.ext.Multimodal.encodeWarcHttp(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          bodyBytes = 32, mixed = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_records"),
          col("n_requests"), col("n_responses"), col("n_200"),
          col("body_bytes"), col("sum_body"), col("n_paired"))
    },
    // Whole-corpus WARC demux scale twin (E246's measurement): q288 with
    // no doc cap — one native record walk per archive, byte-linear.
    "q293_warc_scale" -> { (s, dir) =>
      graft.ext.Multimodal.warcStats(
        graft.ext.Multimodal.encodeWarc(
          graft.ext.Multimodal.documentsAsAssets(Tables.documents(s, dir)),
          recordBytes = 256)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_records"),
          col("n_responses"), col("content_bytes"), col("sum_payload"))
    },
    // GIF decode stats (E245): the LZW entropy family in-engine —
    // variable-width codes packed LSB-first, CLEAR/EOI control codes,
    // KwKwK reconstruction, sub-block framing, palette read-back. GIF is
    // lossless on the index stream, so the oracle computes every sum
    // straight from raw payload bytes (the q260 pixel-identity
    // discipline) while the engine must really LZW-decode.
    "q286_gif_stats" -> { (s, dir) =>
      graft.ext.Multimodal.gifStats(
        graft.ext.Multimodal.encodeGif(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_idx"), col("sum_r"),
          col("sum_g"), col("sum_b"), col("mean_idx_milli"))
    },
    // Whole-corpus GIF decode scale twin (E245's measurement): q286 with
    // no doc cap — one native LZW pass per asset, byte-linear.
    "q287_gif_scale" -> { (s, dir) =>
      graft.ext.Multimodal.gifStats(
        graft.ext.Multimodal.encodeGif(
          graft.ext.Multimodal.documentsAsAssets(Tables.documents(s, dir)),
          width = 40)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_idx"), col("sum_r"),
          col("sum_g"), col("sum_b"), col("mean_idx_milli"))
    },
    // Small-palette GIF (E247): LZW minimum code size 4 over a 16-entry
    // global color table — the real-world small-GIF shape the 256-color
    // walk can't represent (codes start at 5 bits; index = byte mod 16
    // keeps the oracle per-byte arithmetic).
    "q294_gif_pal4" -> { (s, dir) =>
      graft.ext.Multimodal.gifStats(
        graft.ext.Multimodal.encodeGif(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40, palBits = 4)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_idx"), col("sum_r"),
          col("sum_g"), col("sum_b"), col("mean_idx_milli"))
    },
    // Interlaced GIF (E248): the four-pass row ordering. The proof is
    // ORDER-SENSITIVE: sum_rowv weights each index by its OUTPUT screen
    // row, which only matches the raw-payload value when the decoder
    // really maps pass order back to screen rows (plain sums are
    // order-free and could not tell).
    "q295_gif_interlaced" -> { (s, dir) =>
      graft.ext.Multimodal.gifStats(
        graft.ext.Multimodal.encodeGif(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40, interlaced = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_idx"), col("sum_b"),
          col("mean_idx_milli"), col("sum_rowv"))
    },
    // Animated GIF (E249): the dominant real-world GIF — one image
    // descriptor per frame, each preceded by a Graphic Control Extension
    // whose delays the decoder parses (4 + f mod 3 cs by the fixture
    // rule, so the delay total is frame arithmetic); sum_rowv stacks
    // rows across frames, proving frame ORDER as well as content.
    "q296_gif_anim" -> { (s, dir) =>
      graft.ext.Multimodal.gifStats(
        graft.ext.Multimodal.encodeGif(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40, frameHeight = 5)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_frames"),
          col("width"), col("height"), col("n_pixels"), col("sum_idx"),
          col("sum_rowv"), col("sum_delay"))
    },
    // PARTIAL-FRAME animated GIF (E266): the dominant real animated-GIF
    // wire — each frame a sub-screen update at nonzero (left, top)
    // offsets inside a 48x8 screen, GCE disposal 1. The order-sensitive
    // stats weight by SCREEN row and column, so only a decoder that
    // really applies the per-frame offsets reproduces them.
    "q312_gif_partial" -> { (s, dir) =>
      graft.ext.Multimodal.gifStats(
        graft.ext.Multimodal.encodeGif(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40, frameHeight = 5, partialFrames = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_frames"),
          col("width"), col("height"), col("n_pixels"), col("sum_idx"),
          col("sum_rowv"), col("sum_colv"), col("sum_delay"))
    },
    // FLAC decode (E253): lossless compressed audio, the FOURTH entropy
    // family in-engine (Rice coding). The decoder Rice-decodes every
    // residual, reconstructs the fixed predictors, verifies per-frame
    // CRC-8/CRC-16 AND the STREAMINFO MD5 of the reconstructed PCM —
    // the stream's own lossless-identity proof — while the oracle reads
    // the sample sums straight off the payload's LE 16-bit pairs.
    "q299_flac_stats" -> { (s, dir) =>
      graft.ext.Multimodal.flacStats(
        graft.ext.Multimodal.encodeFlac(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)))
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_frames"),
          col("n_samples"), col("sum_s"), col("sum_abs"), col("sum_is"))
    },
    // FLAC with LPC subframes (E256): the encoder fits order-8 LPC by
    // autocorrelation + Levinson-Durbin (error-feedback quantization)
    // and lets it compete on exact bit cost; the decoder reconstructs
    // through the quantized-coefficient predictor with the 64-bit
    // accumulator. Lossless, so q302 hash-matches q299's oracle
    // VERBATIM — the subframe family changes the wire, never the PCM.
    "q302_flac_lpc" -> { (s, dir) =>
      graft.ext.Multimodal.flacStats(
        graft.ext.Multimodal.encodeFlac(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          lpcOrder = 8)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_frames"),
          col("n_samples"), col("sum_s"), col("sum_abs"), col("sum_is"))
    },
    // STEREO FLAC with decorrelation (E259): the payload's LE16 pairs
    // alternate (left, right); every frame costs all four channel
    // assignments exactly (independent, left/side, right/side, mid/side
    // — the side channel at 17 bits) and writes the cheapest; the
    // decoder undoes the transform and re-derives the MD5. The oracle
    // reads the interleaved sample sums off raw payload bytes — the
    // assignment changes the wire, never the PCM.
    "q305_flac_stereo" -> { (s, dir) =>
      graft.ext.Multimodal.flacStats(
        graft.ext.Multimodal.encodeFlac(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          lpcOrder = 8, stereo = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_frames"),
          col("n_samples"), col("sum_s"), col("sum_abs"), col("sum_is"))
    },
    // 24-BIT FLAC (E265): the high-resolution audio-lake width — the
    // PCM is the payload's 3-byte little-endian samples, STREAMINFO
    // declares 24 bits, the frame headers carry sample-size code 0b110,
    // and the MD5 identity runs over the 3-byte stream. LPC competes as
    // in q302; the oracle reads the signed 24-bit sums off raw bytes.
    "q311_flac_24bit" -> { (s, dir) =>
      graft.ext.Multimodal.flacStats(
        graft.ext.Multimodal.encodeFlac(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          lpcOrder = 8, bps = 24)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_frames"),
          col("n_samples"), col("sum_s"), col("sum_abs"), col("sum_is"))
    },
    // GIF frame COMPOSITING (E272): the partial-frame stack rendered
    // the way a viewer renders it — disposal-aware, last write wins per
    // SCREEN cell, background cells stay unpainted. The oracle replays
    // the placement rule per cell: the latest covering frame supplies
    // the pixel, so only a decoder that really composites (not just
    // sums frames) reproduces the final-screen stats.
    "q321_gif_composite" -> { (s, dir) =>
      graft.ext.Multimodal.gifComposite(
        graft.ext.Multimodal.encodeGif(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40, frameHeight = 5, partialFrames = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_frames"),
          col("n_painted"), col("sum_fidx"), col("sum_frowv"),
          col("sum_fr"), col("sum_fg"), col("sum_fb"))
    },
    // VARIABLE-BLOCKING FLAC (E268): the spec's second blocking
    // strategy, the last in-format fence removed — frames alternate
    // 576/384 samples, the strategy bit is set, and each header carries
    // the frame's starting SAMPLE number instead of its index. The PCM
    // is unchanged, so every stat except n_frames matches q299's
    // arithmetic; n_frames follows the alternation rule on ns.
    "q314_flac_varblock" -> { (s, dir) =>
      graft.ext.Multimodal.flacStats(
        graft.ext.Multimodal.encodeFlac(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          lpcOrder = 8, varBlock = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_frames"),
          col("n_samples"), col("sum_s"), col("sum_abs"), col("sum_is"))
    },
    // TIFF decode (E252): the scanner-archive format — classic TIFF 6.0
    // IFD walk (ascending-tag audit, full baseline-grayscale required
    // set, external value areas), uncompressed strips, little-endian.
    // Lossless, so every stat reads off raw payload bytes; sum_rowv pins
    // strip ORDER, not just content.
    "q297_tiff_stats" -> { (s, dir) =>
      graft.ext.Multimodal.tiffStats(
        graft.ext.Multimodal.encodeTiff(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"),
          col("mean_v_milli"), col("sum_rowv"), col("n_strips"))
    },
    // RGB TIFF (E292): baseline color — Photometric 2, SamplesPerPixel
    // 3, BitsPerSample [8,8,8] in an external value area, chunky
    // RGBRGB rows (PlanarConfiguration 2 rejects visibly). Payload
    // bytes are the triplets; channel sums split by i mod 3.
    "q347_tiff_rgb" -> { (s, dir) =>
      graft.ext.Multimodal.tiffStats(
        graft.ext.Multimodal.encodeTiff(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 20, rgb = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"),
          col("mean_v_milli"), col("sum_rowv"), col("n_strips"),
          col("sum_r"), col("sum_g"), col("sum_b"))
    },
    // RGB TIFF over LZW + per-CHANNEL Predictor 2 on the big-endian
    // wire (E292): differencing runs with the 3-sample stride per spec
    // 14. Same oracle as q347 VERBATIM — the wire changes, the samples
    // never do.
    "q348_tiff_rgb_pred" -> { (s, dir) =>
      graft.ext.Multimodal.tiffStats(
        graft.ext.Multimodal.encodeTiff(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 20, bigEndian = true, lzw = true, predictor2 = true,
          rgb = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"),
          col("mean_v_milli"), col("sum_rowv"), col("n_strips"),
          col("sum_r"), col("sum_g"), col("sum_b"))
    },
    // TILED TIFF (E284): the big-image layout (GeoTIFF / scanner walls)
    // — 16x16 tiles on the LZW + Predictor 2 wire, edge tiles PADDED to
    // full size (decoded, never counted), the predictor reset per TILE
    // row. The pixel stats and the row-weighted placement sum match the
    // strip wires' values; n_strips counts tiles (3 across x ceil(h/16)
    // down), pinning the grid walk.
    "q336_tiff_tiled" -> { (s, dir) =>
      graft.ext.Multimodal.tiffStats(
        graft.ext.Multimodal.encodeTiff(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40, lzw = true, predictor2 = true, tiled = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"),
          col("mean_v_milli"), col("sum_rowv"), col("n_strips"))
    },
    // TIFF over the OTHER wire (E252): big-endian ("MM") byte order AND
    // PackBits compression restarted at every row — q298 hash-matches
    // q297's oracle VERBATIM (byte order and compression change the
    // wire, never the pixels; the q288/q289 discipline).
    "q298_tiff_packbits" -> { (s, dir) =>
      graft.ext.Multimodal.tiffStats(
        graft.ext.Multimodal.encodeTiff(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40, bigEndian = true, packBits = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"),
          col("mean_v_milli"), col("sum_rowv"), col("n_strips"))
    },
    // Whole-corpus TIFF decode scale twin (E252's measurement): q297
    // with no doc cap — one IFD walk + strip pass per asset, byte-linear.
    "q300_tiff_scale" -> { (s, dir) =>
      graft.ext.Multimodal.tiffStats(
        graft.ext.Multimodal.encodeTiff(
          graft.ext.Multimodal.documentsAsAssets(Tables.documents(s, dir)),
          width = 40)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"),
          col("mean_v_milli"), col("sum_rowv"), col("n_strips"))
    },
    // Whole-corpus FLAC decode scale twin (E253's measurement): q299
    // with no doc cap — one Rice-decode + MD5 pass per asset,
    // byte-linear with O(blockSize) state.
    "q301_flac_scale" -> { (s, dir) =>
      graft.ext.Multimodal.flacStats(
        graft.ext.Multimodal.encodeFlac(
          graft.ext.Multimodal.documentsAsAssets(Tables.documents(s, dir)))
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_frames"),
          col("n_samples"), col("sum_s"), col("sum_abs"), col("sum_is"))
    },
    // TIFF over the THIRD wire (E258): LZW compression (tag 5) — the
    // TIFF-variant LZW with MSB-first codes and the EARLY width change,
    // restarted at every strip. q304 hash-matches the q297/q298 oracle
    // VERBATIM (three compressions, one pixel identity).
    "q304_tiff_lzw" -> { (s, dir) =>
      graft.ext.Multimodal.tiffStats(
        graft.ext.Multimodal.encodeTiff(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40, lzw = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"),
          col("mean_v_milli"), col("sum_rowv"), col("n_strips"))
    },
    // Animated GIF with LOCAL color tables and NO global table (E260):
    // the dominant real animated-GIF shape. Each frame carries its own
    // palette under a frame-dependent rule, so the channel sums only
    // match when the decoder reads EVERY frame's table (a GCT fallback
    // would miss all of them — there is no GCT to fall back to).
    "q306_gif_lct" -> { (s, dir) =>
      graft.ext.Multimodal.gifStats(
        graft.ext.Multimodal.encodeGif(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40, frameHeight = 5, localPalettes = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_frames"),
          col("n_pixels"), col("sum_idx"), col("sum_r"), col("sum_g"),
          col("sum_b"), col("sum_rowv"))
    },
    // MULTI-PAGE TIFF (E261): the scanner-archive shape — one IFD per
    // page chained through the next pointers, every page with its own
    // strips and external value areas. sum_rowv stacks rows across
    // pages, pinning page ORDER; the per-page geometry audit and the
    // cumulative pixel cap ride the same chain walk.
    "q307_tiff_multipage" -> { (s, dir) =>
      graft.ext.Multimodal.tiffStats(
        graft.ext.Multimodal.encodeTiff(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40, packBits = true, pageHeight = 6)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"), col("sum_rowv"),
          col("n_strips"), col("n_pages"))
    },
    // TIFF with the PREDICTOR-2 wire (E262): horizontal differencing
    // (tag 317 = 2) ahead of the LZW pass — the dominant real-world
    // LZW-TIFF shape (nearly every scanner archive sets it). The decoder
    // undoes the per-row differencing with one add per pixel inside the
    // strip walk; q308 hash-matches the q297/q298/q304 oracle VERBATIM
    // (four wires, one pixel identity).
    "q308_tiff_predictor2" -> { (s, dir) =>
      graft.ext.Multimodal.tiffStats(
        graft.ext.Multimodal.encodeTiff(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40, lzw = true, predictor2 = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"),
          col("mean_v_milli"), col("sum_rowv"), col("n_strips"))
    },
    // TIFF with the FILLORDER-2 wire (E271): tag 266 = 2 — every byte
    // of the LZW bit stream arrives bit-reversed (the fax-heritage
    // wire). The decoder un-reverses through a 256-entry table before
    // the code walk; q320 hash-matches the q297/q298/q304/q308 oracle
    // VERBATIM (five wires, one pixel identity).
    "q320_tiff_fillorder2" -> { (s, dir) =>
      graft.ext.Multimodal.tiffStats(
        graft.ext.Multimodal.encodeTiff(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 40, lzw = true, fillOrder2 = true)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("width"),
          col("height"), col("n_pixels"), col("sum_v"),
          col("mean_v_milli"), col("sum_rowv"), col("n_strips"))
    },
    // A+V AVI demux (E243): the real-world container shape — MJPEG video
    // plus an interleaved mono-PCM16 audio stream ('00dc'/'01wb'
    // alternating per frame, both streams' headers and idx1 entries
    // verified). The fixture reuses each frame's 128 payload bytes as
    // its 64 audio samples, so the oracle reads the signed sample sums
    // straight off the truncated payload next to the video block replay.
    "q285_avi_av_stats" -> { (s, dir) =>
      graft.ext.Multimodal.aviAvStats(
        graft.ext.Multimodal.encodeAviAv(
          graft.ext.Multimodal.documentsAsAssets(
            Tables.documents(s, dir).filter(col("doc_id") < 140)),
          width = 8, frameBytes = 128)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_frames"),
          col("width"), col("frame_height"), col("n_pixels"),
          col("sum_v"), col("n_samples"), col("sum_s"), col("n_blocks"))
    },
    // Whole-corpus MJPEG-AVI decode scale twin (E240's measurement): q282
    // with no doc cap — one native container walk + per-frame entropy
    // decode per asset, cost linear in byte mass, the q281 pattern on the
    // newest (container) codec layer.
    "q284_mjpeg_scale" -> { (s, dir) =>
      graft.ext.Multimodal.mjpegAviStats(
        graft.ext.Multimodal.encodeMjpegAvi(
          graft.ext.Multimodal.documentsAsAssets(Tables.documents(s, dir)),
          width = 8, frameBytes = 128)
          .repartition(col("asset_id"))
          .localCheckpoint())
        .select(col("asset_id"), col("is_valid"), col("n_frames"),
          col("width"), col("frame_height"), col("n_pixels"),
          col("sum_v"), col("mean_v_milli"), col("n_blocks"))
    },
    // Rank-fusion quality score (E95): quality × langid-margin × token
    // count fused by exact global RANK() computed from value counts — the
    // window sorts distinct fixed-point values, never the corpus rows.
    "q135_rank_fusion" -> { (s, dir) =>
      import graft.ext.TextAnalysis
      val docs = Tables.documents(s, dir)
      val conf = TextAnalysis.langConfusion(docs).select(col("doc_id"), col("margin"))
      val sig = docs
        .withColumn("q_scaled",
          floor(TextAnalysis.qualityScore(col("text")) * 1000000.0).cast("long"))
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        .join(conf, "doc_id")
        .select(col("doc_id"), col("q_scaled"), col("margin"), col("n_tokens"))
      graft.analyze.Profiler.rankFusion(sig, Seq("q_scaled", "margin", "n_tokens"))
    },
    // Corpus-level PII audit: per-rule docs-affected + total hits from the
    // same ordered redaction pass as q72 — the release-gate report.
    "q103_pii_audit" -> { (s, dir) =>
      val txt = concat_ws(" ", col("c_name"), lit("bal"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").cast("string"))
      graft.ext.Redaction.auditSummary(
        Tables.customer(s, dir).select(col("c_custkey"), txt.as("text")),
        "text")
    },
    // Asymmetric containment dedup: |A∩B|/|A| per direction over the q21
    // scope — catches short-doc-quoted-in-long-doc, which Jaccard's
    // union denominator hides.
    "q102_containment" -> { (s, dir) =>
      graft.ext.Dedup.containmentPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 50),
        minContainment = 0.05)
    },
    // ------------------------------------------------------------------
    // A1/A2/A4-family: hash aggregation with partial+final combine.
    // TPC-H Q1 shape: one full scan, group-by on two low-cardinality keys.
    // At 100 TB this is scan-bound; map-side partial aggregation reduces the
    // shuffle to #distinct-groups × #partitions rows.
    // ------------------------------------------------------------------
    "q01_pricing_summary" -> { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          sum($"l_extendedprice".cast(DecimalType(18, 4)) *
            (lit(1).cast(DecimalType(18, 4)) - $"l_discount".cast(DecimalType(18, 4))))
            .cast("double").as("sum_disc_price"),
          (dsum($"l_quantity") / count(lit(1))).as("avg_qty"),
          (dsum($"l_extendedprice") / count(lit(1))).as("avg_price"),
          (dsum($"l_discount") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // ------------------------------------------------------------------
    // P-family: projection + predicate, both pushed into the parquet scan
    // (PushedFilters + ReadSchema show only 4 of 11 lineitem columns read).
    // ------------------------------------------------------------------
    "q02_filter_project" -> { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter(
          $"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
            $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
        .select(
          $"l_orderkey",
          $"l_linenumber",
          $"l_extendedprice",
          $"l_discount")
    },

    // ------------------------------------------------------------------
    // J-family: multi-way equi-join. nation/region are broadcast (tiny dims);
    // orders⋈lineitem is the only real shuffle. At scale, AQE keeps the big
    // join SMJ/shuffled-hash and the dims broadcast.
    // ------------------------------------------------------------------
    "q03_join_revenue_by_nation" -> { (s, dir) =>
      import s.implicits._
      val rev = $"l_extendedprice".cast(DecimalType(18, 4)) *
        (lit(1).cast(DecimalType(18, 4)) - $"l_discount".cast(DecimalType(18, 4)))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_items"))
    },

    // ------------------------------------------------------------------
    // J8/U2-analog: left-semi join (EXISTS). Semi-join avoids materializing
    // the probe side — at 100 TB the lineitem side never leaves its stage.
    // ------------------------------------------------------------------
    "q04_semi_join_exists" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1995-06-01").cast("timestamp"))
        .select($"l_orderkey")
      Tables.orders(s, dir)
        .join(li, $"o_orderkey" === $"l_orderkey", "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    },

    // ------------------------------------------------------------------
    // U3/J9-analog: left-anti join (NOT EXISTS) — the orphan detector from
    // the reference's referential-integrity test (data_relationship_tester
    // .py:91).
    // ------------------------------------------------------------------
    "q05_anti_join_orphans" -> { (s, dir) =>
      import s.implicits._
      val recent = Tables.orders(s, dir)
        .filter($"o_orderdate" >= lit("2001-01-01").cast("timestamp"))
      Tables.customer(s, dir)
        .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
    },

    // ------------------------------------------------------------------
    // J9: referential-integrity overlap ratio (data_relationship_tester
    // .py:153-177) — |distinct(src) ∩ distinct(tgt)| / |distinct(src)|,
    // orphans = distinct src values with no match. Distinct-then-semi-join:
    // the distinct shrinks the shuffle to key cardinality before the join.
    // ------------------------------------------------------------------
    "q06_ri_overlap" -> { (s, dir) =>
      import s.implicits._
      val src = Tables.orders(s, dir).select($"o_custkey".as("v")).where($"v".isNotNull).distinct()
      val tgt = Tables.customer(s, dir).select($"c_custkey".as("v")).distinct()
      val matched = src.join(tgt, Seq("v"), "left_semi").agg(count(lit(1)).as("matched"))
      val total = src.agg(count(lit(1)).as("total_src"))
      matched.crossJoin(total).select(
        ($"matched".cast("double") / $"total_src").as("ri_ratio"),
        ($"total_src" - $"matched").as("orphan_values"),
        $"total_src")
    },

    // ------------------------------------------------------------------
    // A1: frequency distribution — value → count + share of total
    // (data_relationship_tester.py:286-298).
    // ------------------------------------------------------------------
    "q07_freq_distribution" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("share", $"cnt".cast("double") / sum($"cnt").over(Window.partitionBy()))
    },

    // ------------------------------------------------------------------
    // A2/A3: distinct-count + row-count cardinality probes
    // (data_relationship_tester.py:166-174, 341-348).
    // ------------------------------------------------------------------
    "q08_cardinality_probe" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir).agg(
        count(lit(1)).as("n_rows"),
        countDistinct($"o_custkey").as("n_custkeys"),
        countDistinct($"o_orderstatus").as("n_statuses"),
        countDistinct($"o_orderpriority").as("n_priorities"))
    },

    // ------------------------------------------------------------------
    // W1: top-k per group via ranking window — the reference's
    // max-3-relationships-per-table filter shape (relationship_detector
    // .py:763-830). Deterministic total order (SURVEY §7.4.2).
    // ------------------------------------------------------------------
    "q09_topk_per_group" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rk")
    },

    // ------------------------------------------------------------------
    // U1/U4: distinct union across sources (restore_dataset.sh:117-130's
    // `sort -u` of discovered table names, over data columns here).
    // ------------------------------------------------------------------
    "q10_union_distinct" -> { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir).select($"o_custkey".as("k"))
        .union(Tables.customer(s, dir).select($"c_custkey".as("k")))
        .distinct()
    },

    // ------------------------------------------------------------------
    // J10: distribution-similarity — two frequency tables joined on value,
    // similarity = avg(1-|p_a−p_b|) over common values × coverage
    // (data_relationship_tester.py:243-284). Computed here between the
    // l_returnflag distributions of two shipdate eras.
    // ------------------------------------------------------------------
    "q11_distribution_similarity" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      def freq(df: DataFrame): DataFrame =
        df.groupBy($"l_returnflag".as("v")).agg(count(lit(1)).as("c"))
          .withColumn("p", $"c".cast("double") / sum($"c").over(Window.partitionBy()))
      val a = freq(li.filter($"l_shipdate" < lit("1995-01-01").cast("timestamp")))
        .select($"v", $"p".as("p_a"))
      val b = freq(li.filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp")))
        .select($"v", $"p".as("p_b"))
      a.join(b, Seq("v"))
        .agg(
          avg(lit(1.0) - abs($"p_a" - $"p_b")).as("similarity"),
          count(lit(1)).as("common_values"))
    },

    // ------------------------------------------------------------------
    // EXT dedup: exact deduplication by content hash over documents — keep
    // lowest doc_id per distinct text (hash-groupBy; one shuffle on the
    // digest, not the full text, at scale: group on md5).
    // ------------------------------------------------------------------
    "q12_dedup_exact" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .groupBy(md5($"text").as("content_hash"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    })

  // --------------------------------------------------------------------
  // Catalog-analytics queries: the reference's actual domain (schema scans,
  // key classification, relationship detection, data testing). Schema-level
  // results are oracle-checked against golden VALUES (the schemas are static
  // facts of the testdata); data-level metrics are recomputed by DuckDB from
  // the same parquet.
  // --------------------------------------------------------------------
  /** Explicit edge the lake's config declares (FIXTURES.md: the
    * events.user_id → customer edge, exercising J6 + data testing).
    */
  private val lakeCustomRules =
    Seq(CustomRule("events", "user_id", "customer", "c_custkey"))

  // The classified column catalog feeds many queries (q13-q16, q29, q31,
  // q33, q39); the engine memoizes it in ParquetCatalog's memo.
  private def classifiedCols(s: SparkSession, dir: String): DataFrame =
    new GraftEngine(s, dir).classifiedColumns

  /** Shared render-model slice for q29/q31/q39: the three ERD dialects render
    * the SAME detected subgraph, so the scoped detect runs once per catalog
    * — mirroring the engine's renderErd path, where one collect feeds all
    * driver-side formatters (SURVEY §3.1 steps 5-6).
    */
  private case class RenderModel(
      tables: Seq[graft.core.TableMeta], rels: Seq[graft.core.Relationship],
      pks: Set[(String, String)], fks: Set[(String, String)])

  private def renderModel(s: SparkSession, dir: String): RenderModel = {
    val engine = new GraftEngine(s, dir)
    ParquetCatalog.memo(s, ("renderModel", engine.tables)) {
      val scope = Set("region", "nation", "customer")
      val cat = engine.tables.filter(t => scope(t.tableName))
      val cols = graft.analyze.KeyClassifier.classify(cat, engine.cfg)
      def keySet(flag: graft.analyze.KeyColumn => Boolean) =
        cols.filter(flag).map(c => (c.tableName, c.columnName)).toSet
      val rels = RelationshipDetector.detect(cols, Nil, Nil, engine.cfg)
        .filter(r => scope(r.sourceTable) && scope(r.targetTable))
      RenderModel(cat, rels, keySet(_.isPk), keySet(_.isFk))
    }
  }

  /** The detected edges the datatest queries validate (kept in sync with
    * q15's golden output).
    */
  private val detectedEdges = Seq(
    ("customer", "c_nationkey", "nation", "n_nationkey", 0.95),
    ("events", "user_id", "customer", "c_custkey", 0.9),
    ("lineitem", "l_orderkey", "orders", "o_orderkey", 0.95),
    ("lineitem", "l_partkey", "part", "p_partkey", 0.95),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey", 0.95),
    ("nation", "n_regionkey", "region", "r_regionkey", 0.95),
    ("orders", "o_custkey", "customer", "c_custkey", 0.95),
    ("supplier", "s_nationkey", "nation", "n_nationkey", 0.95))

  private def catalogQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S2/S4 + A5: whole-catalog schema scan → per-table complexity metrics
    // (schema_analyzer.py:306-326, fixing its missing-return bug). Schema
    // facts come from parquet footers only; row counts from footer metadata.
    "q13_catalog_summary" -> { (s, dir) =>
      classifiedCols(s, dir)
        .groupBy(col("tableName").as("table_name"))
        .agg(
          count(lit(1)).as("n_columns"),
          sum(when(col("is_pk_candidate"), 1L).otherwise(0L)).as("n_pk_candidates"),
          sum(when(col("is_fk_candidate"), 1L).otherwise(0L)).as("n_fk_candidates"),
          sum(when(col("isArray"), 1L).otherwise(0L)).as("n_array_columns"),
          countDistinct(col("dataType")).as("n_distinct_types"),
          max(col("numRows")).as("num_rows"))
    },
    // P1-P7: key-candidate classification — regex/pattern rules evaluated on
    // the driver (schema_analyzer.py:109-218).
    "q14_key_classification" -> { (s, dir) =>
      classifiedCols(s, dir)
        .filter(col("is_pk_candidate") || col("is_fk_candidate"))
        .select(
          col("tableName").as("table_name"),
          col("columnName").as("column_name"),
          col("dataType").as("data_type"),
          col("base_name"), col("key_stem"),
          col("is_pk_candidate"), col("is_fk_candidate"))
    },
    // J1-J8 + A6 + W1: the full relationship-detection pipeline.
    "q15_detect_relationships" -> { (s, dir) =>
      RelationshipDetector.detect(classifiedCols(s, dir), lakeCustomRules)
    },
    // J9/J10/A4/A9: data-level validation of every detected edge — RI
    // overlap, distribution similarity, weighted confidence, adjustment.
    "q16_datatest_metrics" -> { (s, dir) =>
      import s.implicits._
      val conf = broadcast(detectedEdges
        .toDF("source_table", "source_column", "target_table", "target_column",
          "confidence"))
      DataTester.testRelationships(
          s, dir,
          detectedEdges.map { case (st, sc, tt, tc, _) => (st, sc, tt, tc) })
        .join(conf,
          Seq("source_table", "source_column", "target_table", "target_column"))
        .transform(DataTester.adjustConfidence(_))
        .select(
          col("source_table"), col("source_column"),
          col("target_table"), col("target_column"),
          col("ri_ratio"), col("type_compatibility"), col("dist_similarity"),
          col("overall_confidence"), col("orphan_values"), col("total_src"),
          col("confidence"), col("data_validated"), col("adjusted_confidence"))
    })

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = coreOracleSql ++ catalogOracleSql ++ extOracleSql

  // ---- ext oracle helpers (DuckDB dialect mirrors of the ext operators) ----

  /** Marker-occurrence count in DuckDB: same length arithmetic as
    * TextAnalysis.countOccurrences over the space-padded lowered text.
    */
  private def dkCount(marker: String): String = dkCountOn(marker, "text")

  /** Marker-occurrence count over an arbitrary DuckDB string expression
    * (dkCount is the `text`-column shorthand).
    */
  private def dkCountOn(marker: String, e: String): String = {
    val needle = s" $marker "
    s"(length(' '||lower($e)||' ') - length(replace(' '||lower($e)||' ', '$needle', ''))) / ${needle.length}"
  }

  private def dkLangScore(lang: String): String = dkLangScoreOn(lang, "text")

  private def dkLangScoreOn(lang: String, e: String): String =
    graft.ext.TextAnalysis.langMarkers.toMap
      .apply(lang).map(m => dkCountOn(m, e)).mkString("(", " + ", ")")

  private val dkAllStops: String =
    graft.ext.TextAnalysis.langMarkers.flatMap(_._2).map(dkCount).mkString("(", " + ", ")")

  /** DuckDB 3-shingle list of `text` split on spaces (distinct), matching
    * Dedup.shingles(k=3): whole text when under 3 tokens.
    */
  private val dkShingles: String =
    """CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
      |     ELSE list_distinct(list_transform(range(1, len(l)-1),
      |                                       i -> array_to_string(l[i:i+2], ' ')))
      |END""".stripMargin

  /** DuckDB replay of BpeTrainer.train(merges = 4): word-frequency table,
    * canonical doubled-separator form, and one (pair-count → top-1 →
    * merge-rewrite) CTE triple per unrolled iteration — scalar-subquery
    * replaces mirror the Spark driver loop exactly. Shared by q124
    * (the merge table) and q125 (tokenization with those merges).
    */
  private def bpeTrainCtes: String = {
    def pcte(i: Int) =
      s"""p$i AS (SELECT pair, CAST(SUM(wf) AS BIGINT) AS c FROM (
         |  SELECT unnest(list_transform(range(1, len(l)), j -> l[j] || ' ' || l[j+1])) AS pair, wf
         |  FROM (SELECT string_split(trim(replace(sp, '  ', ' ')), ' ') AS l, wf FROM s${i - 1}))
         |  GROUP BY 1),
         |t$i AS (SELECT pair, c FROM p$i ORDER BY c DESC, pair ASC LIMIT 1)""".stripMargin
    def scte(i: Int) =
      s"""s$i AS (SELECT replace(sp,
         |    ' ' || replace((SELECT pair FROM t$i), ' ', '  ') || ' ',
         |    ' ' || replace((SELECT pair FROM t$i), ' ', '') || ' ') AS sp, wf FROM s${i - 1})""".stripMargin
    val iters = (1 to 4).map(i => if (i < 4) s"${pcte(i)},\n${scte(i)}" else pcte(i)).mkString(",\n")
    s"""w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wf FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY 1),
       |s0 AS (SELECT '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS sp, wf
       |       FROM w),
       |$iters""".stripMargin
  }

  /** DuckDB FLOOR division (`//` truncates toward zero for negative
    * operands — unlike ExactMath.floorDiv): subtract the sign-safe pmod
    * first, then divide the exact multiple. b must be positive.
    */
  private def dkFloorDiv(a: String, b: String): String =
    s"((($a) - ((($a) % ($b) + ($b)) % ($b))) // ($b))"

  /** DuckDB portable 60-bit hash matching Dedup.stableHash(seed). */
  private def dkHash(expr: String, seed: Int): String =
    s"CAST(('0x'||substr(md5($expr||'#$seed'),1,15)) AS BIGINT)"

  /** Shared DuckDB replay of the q241/q244 BMP codec: LE header-field hex
    * construction (encode), unhex→hex round trip, then the same header
    * parse and padded-stride pixel walk as Multimodal.bmpStats — ending at
    * the per-pixel channel CTE `c (asset_id, bl, gr, rd)` with the valid
    * header frame `v` also in scope.
    */
  private def bmpOracleCtes: String = {
    def le32(e: String) = {
      val h = s"lpad(hex($e), 8, '0')"
      s"(substr($h,7,2)||substr($h,5,2)||substr($h,3,2)||substr($h,1,2))"
    }
    def u16(o: Int) =
      s"(CAST(('0x'||substr(h,${2 * o + 1},2)) AS BIGINT) + " +
        s"256*CAST(('0x'||substr(h,${2 * o + 3},2)) AS BIGINT))"
    def u32(o: Int) = s"(${u16(o)} + 65536*${u16(o + 2)})"
    s"""src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
       |            FROM documents WHERE doc_id < 120),
       |g AS (SELECT asset_id, p, octet_length(p) // 20 AS hgt FROM src
       |      WHERE octet_length(p) // 20 >= 1),
       |enc AS (SELECT asset_id,
       |        '424D' || ${le32("54 + hgt*20")} || '00000000' || ${le32("54")} ||
       |        ${le32("40")} || ${le32("6")} || ${le32("hgt")} || '0100' || '1800' ||
       |        ${le32("0")} || ${le32("hgt*20")} || ${le32("2835")} || ${le32("2835")} ||
       |        ${le32("0")} || ${le32("0")} ||
       |        substr(hex(p), 1, CAST(2*hgt*20 AS BIGINT)) AS hx
       |        FROM g),
       |d AS (SELECT asset_id, hex(unhex(hx)) AS h, octet_length(unhex(hx)) AS n
       |      FROM enc),
       |hdr AS (SELECT asset_id, h, n, ${u32(18)} AS w, ${u32(22)} AS hraw,
       |               ${u16(28)} AS bpp, ${u32(30)} AS comp, ${u32(10)} AS poff
       |        FROM d),
       |geo AS (SELECT *, CASE WHEN hraw >= 2147483648 THEN 4294967296 - hraw
       |                       ELSE hraw END AS hgt2,
       |               ((w*3 + 3) // 4) * 4 AS stride FROM hdr),
       |v AS (SELECT * FROM geo
       |      WHERE n >= 54 AND substr(h,1,4) = '424D' AND bpp = 24 AND comp = 0
       |        AND w >= 1 AND hgt2 >= 1 AND n >= poff + hgt2*stride),
       |px AS (SELECT asset_id, h, poff, stride, w, unnest(range(0, hgt2)) AS y
       |       FROM v),
       |pxx AS (SELECT asset_id, h, poff + y*stride AS ro, unnest(range(0, w)) AS x
       |        FROM px),
       |c AS (SELECT asset_id,
       |         CAST(('0x'||substr(h, CAST(2*(ro + 3*x)+1 AS BIGINT), 2)) AS BIGINT) AS bl,
       |         CAST(('0x'||substr(h, CAST(2*(ro + 3*x)+3 AS BIGINT), 2)) AS BIGINT) AS gr,
       |         CAST(('0x'||substr(h, CAST(2*(ro + 3*x)+5 AS BIGINT), 2)) AS BIGINT) AS rd
       |      FROM pxx)""".stripMargin
  }

  /** DuckDB replay of the q257 PPM (P6) codec: ASCII header built by
    * string concat + hex() (string hex IS the ASCII byte encoding — no
    * BLOB→VARCHAR cast, which errors on non-UTF-8 pixel bytes), unhex→hex
    * round trip, then the same hex-space regex header parse and unpadded
    * RGB pixel walk as Multimodal.ppmStats — ending at the per-pixel
    * channel CTE `c (asset_id, rd, gr, bl)` with the valid header frame
    * `v` also in scope.
    */
  private def ppmOracleCtes: String = {
    val ws = "(?:0A|20|09|0D)"
    val dig = "(?:3[0-9])"
    val pat = s"^5036$ws($dig{1,8})$ws($dig{1,8})$ws($dig{1,8})$ws"
    def digits(grp: Int) =
      s"regexp_replace(regexp_extract(substr(h, 1, 60), '$pat', $grp), " +
        s"'3([0-9])', '\\1', 'g')"
    s"""src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
       |            FROM documents WHERE doc_id < 120),
       |g AS (SELECT asset_id, p, octet_length(p) // 18 AS hgt FROM src
       |      WHERE octet_length(p) // 18 >= 1),
       |enc AS (SELECT asset_id,
       |        hex('P6' || chr(10) || '6 ' || CAST(hgt AS VARCHAR) ||
       |            chr(10) || '255' || chr(10)) ||
       |        substr(hex(p), 1, CAST(2*hgt*18 AS BIGINT)) AS hx
       |        FROM g),
       |d AS (SELECT asset_id, hex(unhex(hx)) AS h, octet_length(unhex(hx)) AS n
       |      FROM enc),
       |pr AS (SELECT asset_id, h, n, ${digits(1)} AS wd, ${digits(2)} AS hd,
       |              ${digits(3)} AS md
       |       FROM d),
       |geo AS (SELECT asset_id, h, n,
       |               CAST(NULLIF(wd, '') AS BIGINT) AS w,
       |               CAST(NULLIF(hd, '') AS BIGINT) AS hgt2,
       |               CAST(NULLIF(md, '') AS BIGINT) AS maxv,
       |               6 + length(wd) + length(hd) + length(md) AS poff
       |        FROM pr),
       |v AS (SELECT *, w * 3 AS stride FROM geo
       |      WHERE w IS NOT NULL AND hgt2 IS NOT NULL AND maxv = 255
       |        AND w >= 1 AND hgt2 >= 1 AND n >= poff + 3 * w * hgt2),
       |px AS (SELECT asset_id, h, poff, stride, w, unnest(range(0, hgt2)) AS y
       |       FROM v),
       |pxx AS (SELECT asset_id, h, poff + y*stride AS ro, unnest(range(0, w)) AS x
       |        FROM px),
       |c AS (SELECT asset_id,
       |         CAST(('0x'||substr(h, CAST(2*(ro + 3*x)+1 AS BIGINT), 2)) AS BIGINT) AS rd,
       |         CAST(('0x'||substr(h, CAST(2*(ro + 3*x)+3 AS BIGINT), 2)) AS BIGINT) AS gr,
       |         CAST(('0x'||substr(h, CAST(2*(ro + 3*x)+5 AS BIGINT), 2)) AS BIGINT) AS bl
       |      FROM pxx)""".stripMargin
  }

  /** DuckDB replay of the q262/q263 dHash pipeline: 16-px-wide BMP pixels
    * computed straight from the raw payload bytes (encode∘decode is
    * pixel-identity; the codec itself is q241's oracle), box-filtered to
    * the 9x8 luma grid, adjacent-cell means compared via
    * cross-multiplication, bits packed into two 32-bit halves. `src` must
    * provide (asset_id, p BLOB); the chain ends at
    * `dh (asset_id, dhash_lo, dhash_hi)`.
    */
  private def dhashOracleCtes(src: String): String = {
    // BGR byte order: B at hex offset +1, G at +3, R at +5 (stride 48)
    def chan(off: Int) =
      s"CAST(('0x'||substr(h, CAST(2*(y*48 + 3*x)+$off AS BIGINT), 2)) AS BIGINT)"
    val pivot = (0 to 8).map(i =>
      s"SUM(CASE WHEN cx = $i THEN s END) AS s$i, " +
        s"SUM(CASE WHEN cx = $i THEN c END) AS c$i").mkString(",\n|      ")
    val bits = (0 to 7).map(i =>
      s"(CASE WHEN s${i + 1}*c$i > s$i*c${i + 1} THEN " +
        s"(CAST(1 AS BIGINT) << CAST((cy % 4) * 8 + $i AS INT)) " +
        "ELSE CAST(0 AS BIGINT) END)").mkString("\n|        + ")
    s"""src AS ($src),
       |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 48 AS hgt
       |      FROM src WHERE octet_length(p) // 48 >= 8),
       |py AS (SELECT asset_id, hgt, h, unnest(range(0, hgt)) AS y FROM g),
       |px AS (SELECT asset_id, hgt, h, y, unnest(range(0, 16)) AS x FROM py),
       |lm AS (SELECT asset_id, (x * 9) // 16 AS cx,
       |              -- stored row y is IMAGE row hgt-1-y: encodeBmp writes
       |              -- bottom-up, and dHash grids index image rows
       |              ((hgt - 1 - y) * 8) // hgt AS cy,
       |              299*${chan(5)} + 587*${chan(3)} + 114*${chan(1)} AS lum
       |       FROM px),
       |cells AS (SELECT asset_id, cy, cx, SUM(lum) AS s, COUNT(*) AS c
       |          FROM lm GROUP BY 1, 2, 3),
       |gr AS (SELECT asset_id, cy,
       |      $pivot
       |       FROM cells GROUP BY 1, 2),
       |rb AS (SELECT asset_id, cy,
       |        $bits AS rowbits
       |       FROM gr),
       |dh AS (SELECT asset_id,
       |         CAST(SUM(CASE WHEN cy < 4 THEN rowbits ELSE 0 END) AS BIGINT)
       |           AS dhash_lo,
       |         CAST(SUM(CASE WHEN cy >= 4 THEN rowbits ELSE 0 END) AS BIGINT)
       |           AS dhash_hi
       |       FROM rb GROUP BY 1)""".stripMargin
  }

  /** DuckDB replay of the grayscale (width-8) DCT integer pipeline,
    * shared verbatim by q272 (baseline SOF0) and q279 (progressive SOF2):
    * scan structure changes the STREAM, never the quantized coefficients,
    * so both decodes must hash-match this one replay straight from the
    * raw payload bytes. q281 (the whole-corpus scale twin) drops the doc
    * cap via `where`.
    */
  private def jpegGrayOracleSql: String =
    jpegGrayOracleSqlFor("WHERE doc_id < 140")

  private def jpegGrayOracleSqlFor(where: String): String =
    jpegGrayReplayCtes(where, "octet_length(p) // 64",
      "octet_length(p) // 64 >= 1") +
      s"""
         |SELECT asset_id, TRUE AS is_valid, CAST(8 AS BIGINT) AS width,
         |       CAST(nb * 8 AS BIGINT) AS height,
         |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
         |       CAST(SUM(r) AS BIGINT) AS sum_v,
         |       CAST(SUM(r) * 1000 // COUNT(*) AS BIGINT) AS mean_v_milli,
         |       CAST(nb AS BIGINT) AS n_blocks
         |FROM rec GROUP BY asset_id, nb""".stripMargin

  /** MJPEG-AVI replay (q282): frames are payload-sequential 128-byte
    * slices (two 8x8 blocks each), and per-frame JPEG framing (Huffman +
    * per-frame DC prediction) is a bijective wrapper that cancels under
    * decode∘encode — so the whole-container stats are the q272 block
    * replay with the block count truncated to WHOLE FRAMES:
    * nb = 2·⌊len/128⌋, never ⌊len/64⌋. The container walk itself
    * (RIFF framing, idx1 verification) is pinned by AviCodecSpec.
    */
  private def mjpegAviOracleSql: String = mjpegAviOracleSqlFor("WHERE doc_id < 140")

  private def mjpegAviOracleSqlFor(where: String): String =
    jpegGrayReplayCtes(where,
      "2 * (octet_length(p) // 128)", "octet_length(p) // 128 >= 1") +
      s"""
         |SELECT asset_id, TRUE AS is_valid,
         |       CAST(nb // 2 AS BIGINT) AS n_frames,
         |       CAST(8 AS BIGINT) AS width,
         |       CAST(16 AS BIGINT) AS frame_height,
         |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
         |       CAST(SUM(r) AS BIGINT) AS sum_v,
         |       CAST(SUM(r) * 1000 // COUNT(*) AS BIGINT) AS mean_v_milli,
         |       CAST(nb AS BIGINT) AS n_blocks
         |FROM rec GROUP BY asset_id, nb""".stripMargin

  /** A+V AVI replay (q285): the q282 video replay joined with the audio
    * sums read straight off the same truncated payload — the fixture
    * reuses each 128-byte frame slice as that frame's 64 PCM16LE
    * samples, so sample i is the little-endian pair at bytes (2i, 2i+1)
    * and the signed conversion is the house u >= 32768 ? u - 65536 rule.
    */
  private def aviAvOracleSql: String =
    jpegGrayReplayCtes("WHERE doc_id < 140",
      "2 * (octet_length(p) // 128)", "octet_length(p) // 128 >= 1") +
      s""",
         |sm AS (SELECT asset_id,
         |         CAST(('0x'||substr(h, CAST(4*i+1 AS BIGINT), 2)) AS BIGINT)
         |         + 256 * CAST(('0x'||substr(h, CAST(4*i+3 AS BIGINT), 2))
         |                       AS BIGINT) AS u
         |       FROM (SELECT asset_id, h, unnest(range(0, nb * 32)) AS i
         |             FROM g)),
         |au AS (SELECT asset_id,
         |         SUM(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END) AS sum_s,
         |         COUNT(*) AS n_samples
         |       FROM sm GROUP BY 1),
         |vid AS (SELECT asset_id, nb, COUNT(*) AS n_pixels, SUM(r) AS sum_v
         |        FROM rec GROUP BY 1, 2)
         |SELECT vid.asset_id AS asset_id, TRUE AS is_valid,
         |       CAST(nb // 2 AS BIGINT) AS n_frames,
         |       CAST(8 AS BIGINT) AS width,
         |       CAST(16 AS BIGINT) AS frame_height,
         |       CAST(n_pixels AS BIGINT) AS n_pixels,
         |       CAST(sum_v AS BIGINT) AS sum_v,
         |       CAST(au.n_samples AS BIGINT) AS n_samples,
         |       CAST(au.sum_s AS BIGINT) AS sum_s,
         |       CAST(nb AS BIGINT) AS n_blocks
         |FROM vid JOIN au ON au.asset_id = vid.asset_id""".stripMargin

  /** WARC replay (q288 plain, q289 record-gzip — one oracle, compression
    * never changes the records): fixtures slice the payload into whole
    * 256-byte response records, so counts and sums read straight off
    * the truncated raw bytes.
    */
  private def warcOracleSql: String = warcOracleSqlFor("WHERE doc_id < 140")

  private def warcOracleSqlFor(where: String): String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents $where),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 256 AS nr
         |      FROM src WHERE octet_length(p) // 256 >= 1),
         |bv AS (SELECT asset_id, nr,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, nr, h,
         |               unnest(range(0, nr * 256)) AS i FROM g))
         |SELECT asset_id, TRUE AS is_valid,
         |       CAST(nr AS BIGINT) AS n_records,
         |       CAST(nr AS BIGINT) AS n_responses,
         |       CAST(nr * 256 AS BIGINT) AS content_bytes,
         |       CAST(SUM(v) AS BIGINT) AS sum_payload
         |FROM bv GROUP BY asset_id, nr""".stripMargin

  /** WARC HTTP replay (q290 plain, q291 record-gzip — one oracle): the
    * fixture emits one request+response pair per whole 256-byte body
    * slice, so every archive stat is slice arithmetic — n_records =
    * 2·nr, n_200 = nr − nr DIV 4 (the fixture 404s every fourth slice),
    * body totals read off the truncated raw payload, and every request
    * pairs (its WARC-Concurrent-To names a present response).
    */
  private def warcHttpOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 256 AS nr
         |      FROM src WHERE octet_length(p) // 256 >= 1),
         |bv AS (SELECT asset_id, nr,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, nr, h,
         |               unnest(range(0, nr * 256)) AS i FROM g))
         |SELECT asset_id, TRUE AS is_valid,
         |       CAST(nr * 2 AS BIGINT) AS n_records,
         |       CAST(nr AS BIGINT) AS n_requests,
         |       CAST(nr AS BIGINT) AS n_responses,
         |       CAST(nr - nr // 4 AS BIGINT) AS n_200,
         |       CAST(nr * 256 AS BIGINT) AS body_bytes,
         |       CAST(SUM(v) AS BIGINT) AS sum_body,
         |       CAST(nr AS BIGINT) AS n_paired
         |FROM bv GROUP BY asset_id, nr""".stripMargin

  /** TAR shard replay (q315 plain, q316 .tar.gz — one oracle): whole
    * 100-byte members off the raw payload; sum_iv weights each byte by
    * its member index (i DIV 100), pinning member order.
    */
  private def tarOracleSql: String = tarOracleSqlFor("WHERE doc_id < 140")

  private def tarOracleSqlFor(where: String): String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents $where),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 100 AS nm
         |      FROM src WHERE octet_length(p) // 100 >= 1),
         |bv AS (SELECT asset_id, nm, i // 100 AS m,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, nm, h,
         |               unnest(range(0, nm * 100)) AS i FROM g))
         |SELECT asset_id, TRUE AS is_valid,
         |       CAST(nm AS BIGINT) AS n_members,
         |       CAST(nm * 100 AS BIGINT) AS content_bytes,
         |       CAST(SUM(v) AS BIGINT) AS sum_payload,
         |       CAST(SUM(m * v) AS BIGINT) AS sum_iv
         |FROM bv GROUP BY asset_id, nm""".stripMargin

  /** TAR member-extraction replay (q317): one oracle row per member —
    * the fixture name rule doc%05d.txt rebuilt with printf, per-member
    * byte sums off the corresponding raw 100-byte slice.
    */
  private def tarMembersOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 100 AS nm
         |      FROM src WHERE octet_length(p) // 100 >= 1),
         |bv AS (SELECT asset_id, i // 100 AS member_idx,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, h,
         |               unnest(range(0, nm * 100)) AS i FROM g))
         |SELECT asset_id, CAST(member_idx AS BIGINT) AS member_idx,
         |       printf('doc%05d.txt', member_idx) AS name,
         |       CAST(100 AS BIGINT) AS size,
         |       CAST(SUM(v) AS BIGINT) AS member_sum
         |FROM bv GROUP BY asset_id, member_idx""".stripMargin

  /** Pax-shard replay (q324): q317's member arithmetic with the LONG
    * names the pax path records carry (104 chars, past the 100-byte
    * header field) — rebuilt with repeat + printf.
    */
  private def tarPaxOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 100 AS nm
         |      FROM src WHERE octet_length(p) // 100 >= 1),
         |bv AS (SELECT asset_id, i // 100 AS member_idx,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, h,
         |               unnest(range(0, nm * 100)) AS i FROM g))
         |SELECT asset_id, CAST(member_idx AS BIGINT) AS member_idx,
         |       'samples/' || repeat('d', 87) ||
         |         printf('%05d', member_idx) || '.txt' AS name,
         |       CAST(100 AS BIGINT) AS size,
         |       CAST(SUM(v) AS BIGINT) AS member_sum
         |FROM bv GROUP BY asset_id, member_idx""".stripMargin

  /** ZIP member-extraction replay (q330): the stored wire's layout is
    * pure arithmetic — local header k at k·142 (30 fixed + 12 name +
    * 100 data), so member k's data spans [k·142 + 42, +100); sums off
    * the raw slices, names by the doc%05d.txt rule. The span columns
    * pin the directory's offsets as REAL seek positions.
    */
  private def zipMembersOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 100 AS nm
         |      FROM src WHERE octet_length(p) // 100 >= 1),
         |bv AS (SELECT asset_id, i // 100 AS member_idx,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, h,
         |               unnest(range(0, nm * 100)) AS i FROM g))
         |SELECT asset_id, CAST(member_idx AS BIGINT) AS member_idx,
         |       printf('doc%05d.txt', member_idx) AS name,
         |       CAST(100 AS BIGINT) AS size,
         |       CAST(SUM(v) AS BIGINT) AS member_sum,
         |       CAST(member_idx * 142 + 42 AS BIGINT) AS data_offset,
         |       CAST(100 AS BIGINT) AS comp_size,
         |       CAST(0 AS INTEGER) AS method
         |FROM bv GROUP BY asset_id, member_idx""".stripMargin

  /** Shard-index replay (q329): pure layout arithmetic on the pax wire —
    * per member one pax header block + one padded pax data block + one
    * member header + one padded data block (all 512), so member k's
    * data sits at k·2048 + 1536; names by the pax override rule. Only a
    * decoder that really steps the pax chain reproduces the offsets.
    */
  private def tarIndexOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, octet_length(p) // 100 AS nm
         |      FROM src WHERE octet_length(p) // 100 >= 1)
         |SELECT asset_id, CAST(j AS BIGINT) AS member_idx,
         |       'samples/' || repeat('d', 87) ||
         |         printf('%05d', j) || '.txt' AS name,
         |       CAST(100 AS BIGINT) AS size,
         |       CAST(j * 2048 + 1536 AS BIGINT) AS data_offset
         |FROM (SELECT asset_id, unnest(range(0, nm)) AS j FROM g)""".stripMargin

  /** WebDataset-ingest replay (q322): every 100-byte member re-cleaned
    * from the raw text slice with the q149 regex chain (ASCII corpus:
    * byte slices == char slices), names by the doc%05d.txt rule.
    */
  private def tarIngestOracleSql: String =
    """WITH src AS (SELECT doc_id AS asset_id, text,
         |              octet_length(CAST(text AS BLOB)) // 100 AS nm
         |            FROM documents WHERE doc_id < 140),
         |sl AS (SELECT asset_id, j AS member_idx,
         |         substr(text, CAST(j * 100 + 1 AS BIGINT), 100) AS s
         |       FROM (SELECT asset_id, text, unnest(range(0, nm)) AS j
         |             FROM src WHERE nm >= 1)),
         |c AS (SELECT asset_id, member_idx, trim(regexp_replace(
         |        replace(replace(replace(replace(replace(replace(
         |          regexp_replace(s, '<[^>]*>', ' ', 'g'),
         |          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |          '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
         |        '[ \t\n\r\f]+', ' ', 'g')) AS clean
         |      FROM sl)
         |SELECT asset_id, CAST(member_idx AS BIGINT) AS member_idx,
         |       printf('doc%05d.txt', member_idx) AS name,
         |       md5(clean) AS clean_hash,
         |       CAST(length(clean) AS BIGINT) AS clean_len,
         |       CAST(CASE WHEN clean = '' THEN 0
         |            ELSE len(string_split(clean, ' ')) END AS BIGINT)
         |         AS n_tokens
         |FROM c""".stripMargin

  /** WET-extraction replay (q310): HTTP 200 slices only (j mod 4 ≠ 3),
    * each 256-byte body re-cleaned from the raw text slice with the
    * exact q149 regex chain (documents are ASCII, so byte slices and
    * char slices agree).
    */
  private def warcWetOracleSql: String = warcWetOracleSqlFor(
    "WHERE doc_id < 140")

  private def warcWetOracleSqlFor(where: String): String =
    s"""WITH src AS (SELECT doc_id AS asset_id, text,
         |              octet_length(CAST(text AS BLOB)) // 256 AS nr
         |            FROM documents $where),
         |sl AS (SELECT asset_id, j AS rec_idx,
         |         substr(text, CAST(j * 256 + 1 AS BIGINT), 256) AS s
         |       FROM (SELECT asset_id, text, unnest(range(0, nr)) AS j
         |             FROM src WHERE nr >= 1)
         |       WHERE j % 4 <> 3),
         |c AS (SELECT asset_id, rec_idx, trim(regexp_replace(
         |        replace(replace(replace(replace(replace(replace(
         |          regexp_replace(s, '<[^>]*>', ' ', 'g'),
         |          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |          '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
         |        '[ \\t\\n\\r\\f]+', ' ', 'g')) AS clean
         |      FROM sl)
         |SELECT asset_id, CAST(rec_idx AS BIGINT) AS rec_idx,
         |       md5(clean) AS clean_hash,
         |       CAST(length(clean) AS BIGINT) AS clean_len,
         |       CAST(CASE WHEN clean = '' THEN 0
         |            ELSE len(string_split(clean, ' ')) END AS BIGINT)
         |         AS n_tokens
         |FROM c""".stripMargin

  /** WAT-extraction replay (q327): the html fixture wire derives every
    * metadata field from the raw 256-byte slice — title `d{j}`,
    * `(ascii(slice[0]) mod 3) + 1` outlinks `/d{j}/k{k}`, body length =
    * the rebuilt page's length — so the oracle reconstructs the page
    * and its link list in SQL and the engine's regex extraction must
    * agree byte for byte (documents are ASCII: char = byte).
    */
  private def warcWatOracleSql: String = warcWatOracleSqlFor(
    "WHERE doc_id < 140")

  private def warcWatOracleSqlFor(where: String): String =
    s"""WITH src AS (SELECT doc_id AS asset_id, text,
         |              octet_length(CAST(text AS BLOB)) // 256 AS nr
         |            FROM documents $where),
         |sl AS (SELECT asset_id, j AS rec_idx,
         |         substr(text, CAST(j * 256 + 1 AS BIGINT), 256) AS s
         |       FROM (SELECT asset_id, text, unnest(range(0, nr)) AS j
         |             FROM src WHERE nr >= 1)),
         |nl AS (SELECT asset_id, rec_idx, s,
         |         ascii(substr(s, 1, 1)) % 3 + 1 AS n_links FROM sl),
         |lk AS (SELECT asset_id, rec_idx,
         |         string_agg(printf('/d%d/k%d', rec_idx, k), '|'
         |           ORDER BY k) AS refs,
         |         string_agg(printf('<a href="/d%d/k%d">x</a>', rec_idx, k),
         |           '' ORDER BY k) AS atags
         |       FROM (SELECT asset_id, rec_idx,
         |               unnest(range(0, n_links)) AS k FROM nl)
         |       GROUP BY asset_id, rec_idx)
         |SELECT n.asset_id AS asset_id, CAST(n.rec_idx AS BIGINT) AS rec_idx,
         |       CAST(CASE WHEN n.rec_idx % 4 = 3 THEN 404 ELSE 200 END
         |            AS BIGINT) AS status,
         |       'text/html' AS content_type,
         |       CAST(2 AS BIGINT) AS n_headers,
         |       CAST(length('<html><head><title>d' || n.rec_idx ||
         |         '</title></head><body><p>' || n.s || '</p>' || lk.atags ||
         |         '</body></html>') AS BIGINT) AS body_len,
         |       printf('d%d', n.rec_idx) AS title,
         |       CAST(n.n_links AS BIGINT) AS n_links,
         |       md5(lk.refs) AS link_hash
         |FROM nl n JOIN lk ON lk.asset_id = n.asset_id
         |                 AND lk.rec_idx = n.rec_idx""".stripMargin

  /** MIXED-PROTOCOL crawl replay (q309): every fifth 32-byte slice is a
    * non-HTTP (octet-stream) response record the decoder must keep
    * OPAQUE — so the HTTP stats drop exactly those slices while the
    * record counts keep them: n_records = 2·nr − nr DIV 5, n_200 counts
    * slices with j mod 5 ≠ 4 AND j mod 4 ≠ 3, and sum_body sums only
    * the bytes of HTTP slices. All slice arithmetic off the raw payload.
    */
  private def warcMixedOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 32 AS nr
         |      FROM src WHERE octet_length(p) // 32 >= 1),
         |bv AS (SELECT asset_id, nr, i // 32 AS si,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, nr, h,
         |               unnest(range(0, nr * 32)) AS i FROM g)),
         |hs AS (SELECT asset_id, nr,
         |         SUM(CASE WHEN si % 5 <> 4 THEN v ELSE 0 END) AS sb
         |       FROM bv GROUP BY asset_id, nr),
         |st AS (SELECT asset_id,
         |         SUM(CASE WHEN j % 5 <> 4 AND j % 4 <> 3 THEN 1 ELSE 0 END)
         |           AS n200
         |       FROM (SELECT asset_id, unnest(range(0, nr)) AS j FROM g)
         |       GROUP BY asset_id)
         |SELECT g.asset_id AS asset_id, TRUE AS is_valid,
         |       CAST(2 * g.nr - g.nr // 5 AS BIGINT) AS n_records,
         |       CAST(g.nr - g.nr // 5 AS BIGINT) AS n_requests,
         |       CAST(g.nr AS BIGINT) AS n_responses,
         |       CAST(st.n200 AS BIGINT) AS n_200,
         |       CAST((g.nr - g.nr // 5) * 32 AS BIGINT) AS body_bytes,
         |       CAST(hs.sb AS BIGINT) AS sum_body,
         |       CAST(g.nr - g.nr // 5 AS BIGINT) AS n_paired
         |FROM g JOIN hs ON hs.asset_id = g.asset_id
         |       JOIN st ON st.asset_id = g.asset_id""".stripMargin

  /** WARC body-extraction replay (q292): one oracle row per response
    * record — status from the fixture's slice-index rule, body stats
    * from the corresponding raw 256-byte payload slice.
    */
  private def warcHttpRecordsOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 256 AS nr
         |      FROM src WHERE octet_length(p) // 256 >= 1),
         |bv AS (SELECT asset_id, i // 256 AS rec_idx,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, h,
         |               unnest(range(0, nr * 256)) AS i FROM g))
         |SELECT asset_id, CAST(rec_idx AS BIGINT) AS rec_idx,
         |       CAST(CASE WHEN rec_idx % 4 = 3 THEN 404 ELSE 200 END
         |            AS BIGINT) AS status,
         |       CAST(256 AS BIGINT) AS body_len,
         |       CAST(SUM(v) AS BIGINT) AS body_sum
         |FROM bv GROUP BY asset_id, rec_idx""".stripMargin

  /** GIF replay (q286/q287): GIF is LOSSLESS on the index stream, so on
    * engine-encoded fixtures decode∘encode is the identity on payload
    * bytes and every stat reads straight off them (the q260 discipline).
    * The palette is index-derived — entry v = (v, (3v+85) mod 256,
    * (7v+21) mod 256), one rule in [[graft.functions.GifCodec]] — so the
    * channel sums are per-byte arithmetic; whole 40-byte rows only.
    */
  private def gifOracleSqlFor(where: String): String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents $where),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
         |      FROM src WHERE octet_length(p) // 40 >= 1
         |        AND octet_length(p) < 2621440),
         |bv AS (SELECT asset_id, hgt,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, hgt, h,
         |               unnest(range(0, hgt * 40)) AS i FROM g))
         |SELECT asset_id, TRUE AS is_valid, CAST(40 AS BIGINT) AS width,
         |       CAST(hgt AS BIGINT) AS height,
         |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
         |       CAST(SUM(v) AS BIGINT) AS sum_idx,
         |       CAST(SUM(v) AS BIGINT) AS sum_r,
         |       CAST(SUM((3*v+85) % 256) AS BIGINT) AS sum_g,
         |       CAST(SUM((7*v+21) % 256) AS BIGINT) AS sum_b,
         |       CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS mean_idx_milli
         |FROM bv GROUP BY asset_id, hgt""".stripMargin

  /** Small-palette GIF replay (q294): identical discipline to
    * [[gifOracleSqlFor]] with index = byte mod 16 (palBits 4) — the
    * engine must really decode 5-bit-start LZW and read back the
    * 16-entry table; the oracle stays per-byte arithmetic.
    */
  private def gifPal4OracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
         |      FROM src WHERE octet_length(p) // 40 >= 1
         |        AND octet_length(p) < 2621440),
         |bv AS (SELECT asset_id, hgt,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           % 16 AS v
         |       FROM (SELECT asset_id, hgt, h,
         |               unnest(range(0, hgt * 40)) AS i FROM g))
         |SELECT asset_id, TRUE AS is_valid, CAST(40 AS BIGINT) AS width,
         |       CAST(hgt AS BIGINT) AS height,
         |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
         |       CAST(SUM(v) AS BIGINT) AS sum_idx,
         |       CAST(SUM(v) AS BIGINT) AS sum_r,
         |       CAST(SUM((3*v+85) % 256) AS BIGINT) AS sum_g,
         |       CAST(SUM((7*v+21) % 256) AS BIGINT) AS sum_b,
         |       CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS mean_idx_milli
         |FROM bv GROUP BY asset_id, hgt""".stripMargin

  /** Interlaced GIF replay (q295): the order-sensitive row-weighted sum
    * (row = i DIV width on the raw payload) pins the deinterlace — pass
    * order is a row permutation, so a decoder ignoring the flag weights
    * rows wrongly and misses the hash.
    */
  private def gifInterlacedOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
         |      FROM src WHERE octet_length(p) // 40 >= 1
         |        AND octet_length(p) < 2621440),
         |bv AS (SELECT asset_id, hgt, i // 40 AS r,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, hgt, h,
         |               unnest(range(0, hgt * 40)) AS i FROM g))
         |SELECT asset_id, TRUE AS is_valid, CAST(40 AS BIGINT) AS width,
         |       CAST(hgt AS BIGINT) AS height,
         |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
         |       CAST(SUM(v) AS BIGINT) AS sum_idx,
         |       CAST(SUM((7*v+21) % 256) AS BIGINT) AS sum_b,
         |       CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS mean_idx_milli,
         |       CAST(SUM(r * v) AS BIGINT) AS sum_rowv
         |FROM bv GROUP BY asset_id, hgt""".stripMargin

  /** Animated GIF replay (q296): whole 40x5 frames; the GCE delay total
    * is frame arithmetic (frame f carries 4 + f mod 3 cs, so the sum is
    * 4·nf + ⌊(nf+1)/3⌋ + 2·⌊nf/3⌋), and sum_rowv stacks rows across
    * frames (row = i DIV 40 on the raw payload), pinning frame order.
    */
  private def gifAnimOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 200 AS nf
         |      FROM src WHERE octet_length(p) // 200 >= 1
         |        AND octet_length(p) <= 16777216),
         |bv AS (SELECT asset_id, nf, i // 40 AS r,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, nf, h,
         |               unnest(range(0, nf * 200)) AS i FROM g))
         |SELECT asset_id, TRUE AS is_valid,
         |       CAST(nf AS BIGINT) AS n_frames,
         |       CAST(40 AS BIGINT) AS width,
         |       CAST(5 AS BIGINT) AS height,
         |       CAST(nf * 200 AS BIGINT) AS n_pixels,
         |       CAST(SUM(v) AS BIGINT) AS sum_idx,
         |       CAST(SUM(r * v) AS BIGINT) AS sum_rowv,
         |       CAST(4 * nf + (nf + 1) // 3 + 2 * (nf // 3) AS BIGINT)
         |         AS sum_delay
         |FROM bv GROUP BY asset_id, nf""".stripMargin

  /** Partial-frame animated-GIF replay (q312): whole 40x5 frames placed
    * at ((f mod 3)·4, f mod 4) inside a 48x8 screen — the screen-row and
    * screen-column weights are pure slice arithmetic on the raw payload
    * (f = i DIV 200), and only an offset-applying decoder matches them.
    */
  private def gifPartialOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 200 AS nf
         |      FROM src WHERE octet_length(p) // 200 >= 1
         |        AND octet_length(p) <= 16777216),
         |bv AS (SELECT asset_id, nf,
         |         (i // 200) * 8 + (i // 200) % 4 + (i % 200) // 40 AS r,
         |         ((i // 200) % 3) * 4 + (i % 200) % 40 AS c,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, nf, h,
         |               unnest(range(0, nf * 200)) AS i FROM g))
         |SELECT asset_id, TRUE AS is_valid,
         |       CAST(nf AS BIGINT) AS n_frames,
         |       CAST(48 AS BIGINT) AS width,
         |       CAST(8 AS BIGINT) AS height,
         |       CAST(nf * 200 AS BIGINT) AS n_pixels,
         |       CAST(SUM(v) AS BIGINT) AS sum_idx,
         |       CAST(SUM(r * v) AS BIGINT) AS sum_rowv,
         |       CAST(SUM(c * v) AS BIGINT) AS sum_colv,
         |       CAST(4 * nf + (nf + 1) // 3 + 2 * (nf // 3) AS BIGINT)
         |         AS sum_delay
         |FROM bv GROUP BY asset_id, nf""".stripMargin

  /** GIF compositing replay (q321): the final 48x8 screen under
    * last-write-wins — for each cell the LATEST covering frame (the
    * fixture places frame f at ((f mod 3)·4, f mod 4)) supplies the
    * pixel; uncovered cells stay background. Pure placement arithmetic
    * per cell off the raw payload.
    */
  private def gifCompositeOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 200 AS nf
         |      FROM src WHERE octet_length(p) // 200 >= 1
         |        AND octet_length(p) <= 16777216),
         |cells AS (SELECT asset_id, nf, h, j // 48 AS r, j % 48 AS c
         |          FROM (SELECT asset_id, nf, h, unnest(range(0, 384)) AS j
         |                FROM g)),
         |cov AS (SELECT asset_id, nf, h, r, c, MAX(f) AS fstar
         |        FROM (SELECT asset_id, nf, h, r, c,
         |                unnest(range(0, nf)) AS f FROM cells) t
         |        WHERE (f % 4) <= r AND r < (f % 4) + 5
         |          AND (f % 3) * 4 <= c AND c < (f % 3) * 4 + 40
         |        GROUP BY asset_id, nf, h, r, c),
         |px AS (SELECT asset_id, nf, r, c,
         |         CAST(('0x'||substr(h,
         |           CAST(2 * (fstar * 200 + (r - fstar % 4) * 40
         |                + (c - (fstar % 3) * 4)) + 1 AS BIGINT), 2))
         |           AS BIGINT) AS v
         |       FROM cov)
         |SELECT asset_id, TRUE AS is_valid,
         |       CAST(nf AS BIGINT) AS n_frames,
         |       CAST(COUNT(*) AS BIGINT) AS n_painted,
         |       CAST(SUM(v) AS BIGINT) AS sum_fidx,
         |       CAST(SUM(r * v) AS BIGINT) AS sum_frowv,
         |       CAST(SUM(v) AS BIGINT) AS sum_fr,
         |       CAST(SUM((3*v+85) % 256) AS BIGINT) AS sum_fg,
         |       CAST(SUM((7*v+21) % 256) AS BIGINT) AS sum_fb
         |FROM px GROUP BY asset_id, nf""".stripMargin

  /** TIFF replay (q297 uncompressed little-endian, q298 PackBits
    * big-endian — ONE oracle, the wire never changes the pixels): whole
    * 40-byte rows, strips of 4 rows, sum_rowv = Σ (i DIV 40)·v.
    */
  private def tiffOracleSql: String = tiffOracleSqlFor("WHERE doc_id < 140")

  /** Tiled-TIFF replay (q336): identical pixel arithmetic to the strip
    * oracle — tiling changes the wire layout, never the pixels — except
    * n_strips, which counts the 16×16 tile grid (⌈40/16⌉ across ×
    * ⌈h/16⌉ down). The padded edge tiles contribute nothing.
    */
  private def tiffTiledOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
         |      FROM src WHERE octet_length(p) // 40 >= 1
         |        AND octet_length(p) <= 16777216),
         |bv AS (SELECT asset_id, hgt, i // 40 AS r,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, hgt, h,
         |               unnest(range(0, hgt * 40)) AS i FROM g))
         |SELECT asset_id, TRUE AS is_valid, CAST(40 AS BIGINT) AS width,
         |       CAST(hgt AS BIGINT) AS height,
         |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
         |       CAST(SUM(v) AS BIGINT) AS sum_v,
         |       CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS mean_v_milli,
         |       CAST(SUM(r * v) AS BIGINT) AS sum_rowv,
         |       CAST(3 * ((hgt + 15) // 16) AS BIGINT) AS n_strips
         |FROM bv GROUP BY asset_id, hgt""".stripMargin

  /** RGB TIFF replay (q347 raw/II, q348 LZW+Predictor2/MM — one
    * oracle): pixels are payload RGB triplets (rows span 60 bytes),
    * channel c is byte i with i mod 3 = c, and the mean is per SAMPLE.
    * The compression, byte order, and per-channel predictor change the
    * wire, never the samples.
    */
  private def tiffRgbOracleSql: String =
    """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
      |             FROM documents WHERE doc_id < 140),
      |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 60 AS hgt
      |      FROM src WHERE octet_length(p) // 60 >= 1
      |        AND octet_length(p) <= 16777216),
      |bv AS (SELECT asset_id, hgt, i // 60 AS r, i % 3 AS ch,
      |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
      |           AS v
      |       FROM (SELECT asset_id, hgt, h,
      |               unnest(range(0, hgt * 60)) AS i FROM g))
      |SELECT asset_id, TRUE AS is_valid, CAST(20 AS BIGINT) AS width,
      |       CAST(hgt AS BIGINT) AS height,
      |       CAST(COUNT(*) // 3 AS BIGINT) AS n_pixels,
      |       CAST(SUM(v) AS BIGINT) AS sum_v,
      |       CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS mean_v_milli,
      |       CAST(SUM(r * v) AS BIGINT) AS sum_rowv,
      |       CAST((hgt + 3) // 4 AS BIGINT) AS n_strips,
      |       CAST(SUM(CASE WHEN ch = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
      |       CAST(SUM(CASE WHEN ch = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
      |       CAST(SUM(CASE WHEN ch = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b
      |FROM bv GROUP BY asset_id, hgt""".stripMargin

  private def tiffOracleSqlFor(where: String): String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents $where),
    |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
         |      FROM src WHERE octet_length(p) // 40 >= 1
         |        AND octet_length(p) <= 16777216),
         |bv AS (SELECT asset_id, hgt, i // 40 AS r,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, hgt, h,
         |               unnest(range(0, hgt * 40)) AS i FROM g))
         |SELECT asset_id, TRUE AS is_valid, CAST(40 AS BIGINT) AS width,
         |       CAST(hgt AS BIGINT) AS height,
         |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
         |       CAST(SUM(v) AS BIGINT) AS sum_v,
         |       CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS mean_v_milli,
         |       CAST(SUM(r * v) AS BIGINT) AS sum_rowv,
         |       CAST((hgt + 3) // 4 AS BIGINT) AS n_strips
         |FROM bv GROUP BY asset_id, hgt""".stripMargin

  /** FLAC replay (q299): the PCM is the payload's little-endian 16-bit
    * pairs (whole samples only), so sample i is the pair at bytes
    * (2i, 2i+1) with the house u >= 32768 ? u - 65536 signed rule;
    * frames are ⌈ns/576⌉ and sum_is weights samples by global index.
    */
  private def flacOracleSql: String = flacOracleSqlFor("WHERE doc_id < 140")

  private def flacOracleSqlFor(where: String): String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents $where),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 2 AS ns
         |      FROM src WHERE octet_length(p) // 2 >= 1
         |        AND octet_length(p) <= 33554432),
         |sm AS (SELECT asset_id, ns, i,
         |         CAST(('0x'||substr(h, CAST(4*i+1 AS BIGINT), 2)) AS BIGINT)
         |         + 256 * CAST(('0x'||substr(h, CAST(4*i+3 AS BIGINT), 2))
         |                       AS BIGINT) AS u
         |       FROM (SELECT asset_id, ns, h, unnest(range(0, ns)) AS i
         |             FROM g)),
         |sg AS (SELECT asset_id, ns, i,
         |         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
         |       FROM sm)
         |SELECT asset_id, TRUE AS is_valid,
         |       CAST((ns + 575) // 576 AS BIGINT) AS n_frames,
         |       CAST(ns AS BIGINT) AS n_samples,
         |       CAST(SUM(s) AS BIGINT) AS sum_s,
         |       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
         |       CAST(SUM(i * s) AS BIGINT) AS sum_is
         |FROM sg GROUP BY asset_id, ns""".stripMargin

  /** Variable-blocking FLAC replay (q314): same LE16 PCM arithmetic as
    * q299, but frames alternate 576/384 samples — each 960-sample pair
    * is two frames, and a nonzero remainder is one frame when it fits
    * the leading 576-block, two otherwise.
    */
  private def flacVarBlockOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 2 AS ns
         |      FROM src WHERE octet_length(p) // 2 >= 1
         |        AND octet_length(p) <= 33554432),
         |sm AS (SELECT asset_id, ns, i,
         |         CAST(('0x'||substr(h, CAST(4*i+1 AS BIGINT), 2)) AS BIGINT)
         |         + 256 * CAST(('0x'||substr(h, CAST(4*i+3 AS BIGINT), 2))
         |                       AS BIGINT) AS u
         |       FROM (SELECT asset_id, ns, h, unnest(range(0, ns)) AS i
         |             FROM g)),
         |sg AS (SELECT asset_id, ns, i,
         |         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
         |       FROM sm)
         |SELECT asset_id, TRUE AS is_valid,
         |       CAST(2 * (ns // 960) + CASE WHEN ns % 960 = 0 THEN 0
         |            WHEN ns % 960 <= 576 THEN 1 ELSE 2 END AS BIGINT)
         |         AS n_frames,
         |       CAST(ns AS BIGINT) AS n_samples,
         |       CAST(SUM(s) AS BIGINT) AS sum_s,
         |       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
         |       CAST(SUM(i * s) AS BIGINT) AS sum_is
         |FROM sg GROUP BY asset_id, ns""".stripMargin

  /** 24-bit FLAC replay (q311): the PCM is the payload's 3-byte
    * little-endian samples (whole samples only), signed by the
    * u >= 2^23 ? u − 2^24 rule; frames and the index weighting follow
    * the 16-bit replay exactly.
    */
  private def flac24OracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 3 AS ns
         |      FROM src WHERE octet_length(p) // 3 >= 1
         |        AND octet_length(p) <= 33554432),
         |sm AS (SELECT asset_id, ns, i,
         |         CAST(('0x'||substr(h, CAST(6*i+1 AS BIGINT), 2)) AS BIGINT)
         |         + 256 * CAST(('0x'||substr(h, CAST(6*i+3 AS BIGINT), 2))
         |                       AS BIGINT)
         |         + 65536 * CAST(('0x'||substr(h, CAST(6*i+5 AS BIGINT), 2))
         |                         AS BIGINT) AS u
         |       FROM (SELECT asset_id, ns, h, unnest(range(0, ns)) AS i
         |             FROM g)),
         |sg AS (SELECT asset_id, ns, i,
         |         CASE WHEN u >= 8388608 THEN u - 16777216 ELSE u END AS s
         |       FROM sm)
         |SELECT asset_id, TRUE AS is_valid,
         |       CAST((ns + 575) // 576 AS BIGINT) AS n_frames,
         |       CAST(ns AS BIGINT) AS n_samples,
         |       CAST(SUM(s) AS BIGINT) AS sum_s,
         |       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
         |       CAST(SUM(i * s) AS BIGINT) AS sum_is
         |FROM sg GROUP BY asset_id, ns""".stripMargin

  /** STEREO FLAC replay (q305): whole (L, R) pairs only — the PCM is
    * the payload's LE16 stream truncated to 4-byte groups, frames count
    * PAIRS, and the interleaved index weights sum_is exactly like the
    * mono replay over the truncated stream.
    */
  private def flacStereoOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 4 AS np
         |      FROM src WHERE octet_length(p) // 4 >= 1
         |        AND octet_length(p) <= 33554432),
         |sm AS (SELECT asset_id, np, i,
         |         CAST(('0x'||substr(h, CAST(4*i+1 AS BIGINT), 2)) AS BIGINT)
         |         + 256 * CAST(('0x'||substr(h, CAST(4*i+3 AS BIGINT), 2))
         |                       AS BIGINT) AS u
         |       FROM (SELECT asset_id, np, h, unnest(range(0, 2 * np)) AS i
         |             FROM g)),
         |sg AS (SELECT asset_id, np, i,
         |         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
         |       FROM sm)
         |SELECT asset_id, TRUE AS is_valid,
         |       CAST((np + 575) // 576 AS BIGINT) AS n_frames,
         |       CAST(2 * np AS BIGINT) AS n_samples,
         |       CAST(SUM(s) AS BIGINT) AS sum_s,
         |       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
         |       CAST(SUM(i * s) AS BIGINT) AS sum_is
         |FROM sg GROUP BY asset_id, np""".stripMargin

  /** Animated-GIF-with-LCT replay (q306): whole 40x5 frames; each
    * frame's LOCAL palette follows the frame-shifted rule (R = v+17f,
    * G = 3v+85+29f, B = 7v+21+41f, all mod 256 with f = i DIV 200), so
    * the channel sums are still per-byte arithmetic — but only a
    * decoder that reads every frame's table reproduces them.
    */
  private def gifLctOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 200 AS nf
         |      FROM src WHERE octet_length(p) // 200 >= 1
         |        AND octet_length(p) <= 16777216),
         |bv AS (SELECT asset_id, nf, i // 40 AS r, i // 200 AS f,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, nf, h,
         |               unnest(range(0, nf * 200)) AS i FROM g))
         |SELECT asset_id, TRUE AS is_valid,
         |       CAST(nf AS BIGINT) AS n_frames,
         |       CAST(nf * 200 AS BIGINT) AS n_pixels,
         |       CAST(SUM(v) AS BIGINT) AS sum_idx,
         |       CAST(SUM((v + 17*f) % 256) AS BIGINT) AS sum_r,
         |       CAST(SUM((3*v + 85 + 29*f) % 256) AS BIGINT) AS sum_g,
         |       CAST(SUM((7*v + 21 + 41*f) % 256) AS BIGINT) AS sum_b,
         |       CAST(SUM(r * v) AS BIGINT) AS sum_rowv
         |FROM bv GROUP BY asset_id, nf""".stripMargin

  /** Multi-page TIFF replay (q307): whole 40x6 pages (PackBits wire),
    * 2 strips per page, rows stacked across pages (global row =
    * i DIV 40 on the raw payload).
    */
  private def tiffMultipageOracleSql: String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 240 AS np
         |      FROM src WHERE octet_length(p) // 240 >= 1
         |        AND octet_length(p) <= 16777216),
         |bv AS (SELECT asset_id, np, i // 40 AS r,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           AS v
         |       FROM (SELECT asset_id, np, h,
         |               unnest(range(0, np * 240)) AS i FROM g))
         |SELECT asset_id, TRUE AS is_valid, CAST(40 AS BIGINT) AS width,
         |       CAST(6 AS BIGINT) AS height,
         |       CAST(np * 240 AS BIGINT) AS n_pixels,
         |       CAST(SUM(v) AS BIGINT) AS sum_v,
         |       CAST(SUM(r * v) AS BIGINT) AS sum_rowv,
         |       CAST(np * 2 AS BIGINT) AS n_strips,
         |       CAST(np AS BIGINT) AS n_pages
         |FROM bv GROUP BY asset_id, np""".stripMargin

  /** The shared gray-pipeline CTE chain (FDCT → quantize → dequantize →
    * IDCT per 8x8 block straight from payload bytes), parametrized on
    * the block-count expression so single-JPEG (⌊len/64⌋ blocks) and
    * MJPEG-AVI (whole 2-block frames only) replays stay one source.
    */
  private def jpegGrayReplayCtes(
      where: String, nbExpr: String, minBlocks: String): String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents $where),
         |g AS (SELECT asset_id, hex(p) AS h, $nbExpr AS nb
         |      FROM src WHERE $minBlocks
         |        AND octet_length(p) < 524288),
         |px AS (SELECT asset_id, nb, h, unnest(range(0, nb * 64)) AS i FROM g),
         |sp AS (SELECT asset_id, nb, i // 64 AS b, (i % 64) // 8 AS y, i % 8 AS x,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           - 128 AS v
         |       FROM px),
         |ct AS (SELECT * FROM (VALUES ${graft.functions.JpegDctCodec.basisSqlRows})
         |       AS t(u, x, c)),
         |qt AS (SELECT * FROM (VALUES ${graft.functions.JpegDctCodec.quantSqlRows})
         |       AS t(u, v, q)),
         |t1 AS (SELECT asset_id, nb, b, ct.u AS u, sp.y AS y,
         |              SUM(sp.v * ct.c) AS t
         |       FROM sp JOIN ct ON ct.x = sp.x GROUP BY 1, 2, 3, 4, 5),
         |t2 AS (SELECT asset_id, nb, b, t1.u AS u, ct.u AS vv,
         |              SUM(t1.t * ct.c) AS t
         |       FROM t1 JOIN ct ON ct.x = t1.y GROUP BY 1, 2, 3, 4, 5),
         |qc AS (SELECT asset_id, nb, b, t2.u AS u, t2.vv AS vv, qt.q AS q,
         |         (t2.t + qt.q*549755813888
         |          - (((t2.t + qt.q*549755813888) % (qt.q*1099511627776)
         |              + qt.q*1099511627776) % (qt.q*1099511627776)))
         |           // (qt.q*1099511627776) AS qc
         |       FROM t2 JOIN qt ON qt.u = t2.u AND qt.v = t2.vv),
         |dq AS (SELECT asset_id, nb, b, u, vv, qc * q AS d FROM qc),
         |p1 AS (SELECT asset_id, nb, b, ct.x AS x, dq.vv AS vv,
         |              SUM(ct.c * dq.d) AS t
         |       FROM dq JOIN ct ON ct.u = dq.u GROUP BY 1, 2, 3, 4, 5),
         |p2 AS (SELECT asset_id, nb, b, p1.x AS x, ct.x AS y,
         |              SUM(p1.t * ct.c) AS t
         |       FROM p1 JOIN ct ON ct.u = p1.vv GROUP BY 1, 2, 3, 4, 5),
         |rec AS (SELECT asset_id, nb,
         |          LEAST(GREATEST(
         |            (t + 549755813888
         |             - (((t + 549755813888) % 1099511627776
         |                 + 1099511627776) % 1099511627776)) // 1099511627776
         |            + 128, 0), 255) AS r
         |        FROM p2)""".stripMargin

  /** DuckDB replay of the YCbCr integer pipeline for any block-sequential
    * sampling shape — parametrized on blocks-per-MCU (`bpm`), the number
    * of luma blocks per MCU, and the fixed fixture geometry: 4:2:0 is
    * (6, 4, 16, 16), 4:2:2 (4, 2, 16, 8), 4:4:4 (3, 1, 8, 8). q275 and
    * q276 share the (6, 4, ...) instance verbatim: DRI restart markers
    * change the STREAM, never the reconstructed samples, so both must
    * hash-match one replay. `maxLen` mirrors the engine-side u16-height
    * encode bound.
    */
  private def jpegYccOracleSql(bpm: Int, lumaBlocks: Int, width: Int,
      mcuHeight: Int, maxLen: Long): String =
    s"""WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
         |             FROM documents WHERE doc_id < 140),
         |g AS (SELECT asset_id, hex(p) AS h,
         |        octet_length(p) // ${64 * bpm} AS nb
         |      FROM src WHERE octet_length(p) // ${64 * bpm} >= 1
         |        AND octet_length(p) < $maxLen),
         |px AS (SELECT asset_id, nb, h, unnest(range(0, nb * ${64 * bpm})) AS i
         |       FROM g),
         |sp AS (SELECT asset_id, nb, i // 64 AS b, (i % 64) // 8 AS y, i % 8 AS x,
         |         CASE WHEN (i // 64) % $bpm < $lumaBlocks THEN 0
         |              WHEN (i // 64) % $bpm = $lumaBlocks THEN 1 ELSE 2 END AS ch,
         |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
         |           - 128 AS v
         |       FROM px),
         |ct AS (SELECT * FROM (VALUES ${graft.functions.JpegDctCodec.basisSqlRows})
         |       AS t(u, x, c)),
         |qt AS (SELECT * FROM (VALUES ${graft.functions.JpegDctCodec.quant420SqlRows})
         |       AS t(cmp, u, v, q)),
         |t1 AS (SELECT asset_id, nb, b, ch, ct.u AS u, sp.y AS y,
         |              SUM(sp.v * ct.c) AS t
         |       FROM sp JOIN ct ON ct.x = sp.x GROUP BY 1, 2, 3, 4, 5, 6),
         |t2 AS (SELECT asset_id, nb, b, ch, t1.u AS u, ct.u AS vv,
         |              SUM(t1.t * ct.c) AS t
         |       FROM t1 JOIN ct ON ct.x = t1.y GROUP BY 1, 2, 3, 4, 5, 6),
         |qc AS (SELECT asset_id, nb, b, ch, t2.u AS u, t2.vv AS vv, qt.q AS q,
         |         (t2.t + qt.q*549755813888
         |          - (((t2.t + qt.q*549755813888) % (qt.q*1099511627776)
         |              + qt.q*1099511627776) % (qt.q*1099511627776)))
         |           // (qt.q*1099511627776) AS qc
         |       FROM t2 JOIN qt ON qt.u = t2.u AND qt.v = t2.vv
         |         AND qt.cmp = (CASE WHEN t2.ch = 0 THEN 0 ELSE 1 END)),
         |dq AS (SELECT asset_id, nb, b, ch, u, vv, qc * q AS d FROM qc),
         |p1 AS (SELECT asset_id, nb, b, ch, ct.x AS x, dq.vv AS vv,
         |              SUM(ct.c * dq.d) AS t
         |       FROM dq JOIN ct ON ct.u = dq.u GROUP BY 1, 2, 3, 4, 5, 6),
         |p2 AS (SELECT asset_id, nb, b, ch, p1.x AS x, ct.x AS y,
         |              SUM(p1.t * ct.c) AS t
         |       FROM p1 JOIN ct ON ct.u = p1.vv GROUP BY 1, 2, 3, 4, 5, 6),
         |rec AS (SELECT asset_id, nb, ch,
         |          LEAST(GREATEST(
         |            (t + 549755813888
         |             - (((t + 549755813888) % 1099511627776
         |                 + 1099511627776) % 1099511627776)) // 1099511627776
         |            + 128, 0), 255) AS r
         |        FROM p2)
         |SELECT asset_id, TRUE AS is_valid, CAST($width AS BIGINT) AS width,
         |       CAST(nb * $mcuHeight AS BIGINT) AS height,
         |       CAST(SUM(CASE WHEN ch = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_pixels,
         |       CAST(3 AS BIGINT) AS n_components,
         |       CAST(SUM(CASE WHEN ch = 0 THEN r ELSE 0 END) AS BIGINT)
         |         AS sum_y,
         |       CAST(SUM(CASE WHEN ch = 1 THEN r ELSE 0 END) AS BIGINT)
         |         AS sum_cb,
         |       CAST(SUM(CASE WHEN ch = 2 THEN r ELSE 0 END) AS BIGINT)
         |         AS sum_cr,
         |       CAST(SUM(CASE WHEN ch = 0 THEN r ELSE 0 END) * 1000
         |            // SUM(CASE WHEN ch = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS mean_y_milli,
         |       CAST(nb * $bpm AS BIGINT) AS n_blocks
         |FROM rec GROUP BY asset_id, nb""".stripMargin

  /** DuckDB replay of the q263/q269 128-bit multi-orientation fingerprint
    * (bmpDHash128): 16-px-wide BMP pixels computed straight from the raw
    * payload bytes (encode∘decode is pixel-identity; the codec itself is
    * q241's oracle), box-filtered to BOTH luma grids — 9x8 for the
    * row-gradient words d0/d1 and 8x9 for the column-gradient words
    * d2/d3 — with adjacent-cell means compared via cross-multiplication.
    * `src` must provide (asset_id, p BLOB); ends at
    * `dh (asset_id, d0, d1, d2, d3)`.
    */
  private def dhash128OracleCtes(src: String): String = {
    // BGR byte order: B at hex offset +1, G at +3, R at +5 (stride 48)
    def chan(off: Int) =
      s"CAST(('0x'||substr(h, CAST(2*(y*48 + 3*x)+$off AS BIGINT), 2)) AS BIGINT)"
    def pivot(axis: String) = (0 to 8).map(i =>
      s"SUM(CASE WHEN $axis = $i THEN s END) AS s$i, " +
        s"SUM(CASE WHEN $axis = $i THEN c END) AS c$i").mkString(",\n|      ")
    def bits(pos: String) = (0 to 7).map(i =>
      s"(CASE WHEN s${i + 1}*c$i > s$i*c${i + 1} THEN " +
        s"(CAST(1 AS BIGINT) << CAST(($pos) * 8 + $i AS INT)) " +
        "ELSE CAST(0 AS BIGINT) END)").mkString("\n|        + ")
    s"""src AS ($src),
       |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 48 AS hgt
       |      FROM src WHERE octet_length(p) // 48 >= 9),
       |py AS (SELECT asset_id, hgt, h, unnest(range(0, hgt)) AS y FROM g),
       |px AS (SELECT asset_id, hgt, h, y, unnest(range(0, 16)) AS x FROM py),
       |lm AS (SELECT asset_id,
       |              (x * 9) // 16 AS cx,
       |              -- stored row y is IMAGE row hgt-1-y: encodeBmp writes
       |              -- bottom-up, and the grids index image rows
       |              ((hgt - 1 - y) * 8) // hgt AS cy,
       |              (x * 8) // 16 AS gx,
       |              ((hgt - 1 - y) * 9) // hgt AS gy,
       |              299*${chan(5)} + 587*${chan(3)} + 114*${chan(1)} AS lum
       |       FROM px),
       |rcells AS (SELECT asset_id, cy, cx, SUM(lum) AS s, COUNT(*) AS c
       |           FROM lm GROUP BY 1, 2, 3),
       |rgr AS (SELECT asset_id, cy,
       |      ${pivot("cx")}
       |        FROM rcells GROUP BY 1, 2),
       |rrb AS (SELECT asset_id, cy,
       |        ${bits("cy % 4")} AS rowbits
       |        FROM rgr),
       |rdh AS (SELECT asset_id,
       |          CAST(SUM(CASE WHEN cy < 4 THEN rowbits ELSE 0 END) AS BIGINT)
       |            AS d0,
       |          CAST(SUM(CASE WHEN cy >= 4 THEN rowbits ELSE 0 END) AS BIGINT)
       |            AS d1
       |        FROM rrb GROUP BY 1),
       |ccells AS (SELECT asset_id, gx, gy, SUM(lum) AS s, COUNT(*) AS c
       |           FROM lm GROUP BY 1, 2, 3),
       |cgr AS (SELECT asset_id, gx,
       |      ${pivot("gy")}
       |        FROM ccells GROUP BY 1, 2),
       |crb AS (SELECT asset_id, gx,
       |        ${bits("gx % 4")} AS colbits
       |        FROM cgr),
       |cdh AS (SELECT asset_id,
       |          CAST(SUM(CASE WHEN gx < 4 THEN colbits ELSE 0 END) AS BIGINT)
       |            AS d2,
       |          CAST(SUM(CASE WHEN gx >= 4 THEN colbits ELSE 0 END) AS BIGINT)
       |            AS d3
       |        FROM crb GROUP BY 1),
       |dh AS (SELECT rdh.asset_id, d0, d1, d2, d3
       |       FROM rdh JOIN cdh ON rdh.asset_id = cdh.asset_id)""".stripMargin
  }

  /** DuckDB replay of the q265 128-bit audio energy-contour fingerprint
    * (windowSamples = 1, so 129 windows need 129 samples = 258 bytes):
    * q238's PCM16 sample decode bounded to the 129-sample prefix, window
    * energies, LEAD comparison, four sign-safe 32-bit words. `src` must
    * provide (asset_id, p BLOB); ends at `fp (asset_id, f0, f1, f2, f3)`.
    */
  private def audioFp128OracleCtes(src: String): String =
    s"""src AS ($src),
       |a AS (SELECT asset_id, hex(p) AS h FROM src
       |      WHERE octet_length(p) // 2 >= 129),
       |s AS (SELECT asset_id, h, unnest(range(0, 129)) AS i FROM a),
       |u AS (SELECT asset_id, i AS w,
       |         CAST(('0x'||substr(h, CAST(4*i+1 AS BIGINT), 2)) AS BIGINT)
       |         + 256*CAST(('0x'||substr(h, CAST(4*i+3 AS BIGINT), 2)) AS BIGINT)
       |           AS u
       |      FROM s),
       |e AS (SELECT asset_id, w,
       |             (CASE WHEN u >= 32768 THEN u - 65536 ELSE u END) *
       |             (CASE WHEN u >= 32768 THEN u - 65536 ELSE u END) AS e
       |      FROM u),
       |l AS (SELECT asset_id, w, e,
       |             LEAD(e) OVER (PARTITION BY asset_id ORDER BY w) AS en
       |      FROM e),
       |bits AS (SELECT asset_id, w,
       |           CASE WHEN en > e
       |                THEN (CAST(1 AS BIGINT) << CAST(w % 32 AS INT))
       |                ELSE CAST(0 AS BIGINT) END AS bit
       |         FROM l WHERE w < 128),
       |fp AS (SELECT asset_id,
       |         CAST(SUM(CASE WHEN w < 32 THEN bit ELSE 0 END) AS BIGINT)
       |           AS f0,
       |         CAST(SUM(CASE WHEN w >= 32 AND w < 64 THEN bit ELSE 0 END)
       |              AS BIGINT) AS f1,
       |         CAST(SUM(CASE WHEN w >= 64 AND w < 96 THEN bit ELSE 0 END)
       |              AS BIGINT) AS f2,
       |         CAST(SUM(CASE WHEN w >= 96 THEN bit ELSE 0 END) AS BIGINT)
       |           AS f3
       |       FROM bits GROUP BY 1)""".stripMargin

  /** DuckDB replay of the q264/q265 audio energy-contour fingerprint
    * (windowSamples = 2, so 65 windows need 130 samples = 260 bytes):
    * q238's PCM16 sample decode bounded to the 130-sample prefix, window
    * energies, LEAD comparison, the same two sign-safe 32-bit halves.
    * `src` must provide (asset_id, p BLOB); ends at
    * `fp (asset_id, fp_lo, fp_hi)`.
    */
  private def audioFpOracleCtes(src: String): String =
    s"""src AS ($src),
       |a AS (SELECT asset_id, hex(p) AS h FROM src
       |      WHERE octet_length(p) // 2 >= 130),
       |s AS (SELECT asset_id, h, unnest(range(0, 130)) AS i FROM a),
       |u AS (SELECT asset_id, i // 2 AS w,
       |         CAST(('0x'||substr(h, CAST(4*i+1 AS BIGINT), 2)) AS BIGINT)
       |         + 256*CAST(('0x'||substr(h, CAST(4*i+3 AS BIGINT), 2)) AS BIGINT)
       |           AS u
       |      FROM s),
       |e AS (SELECT asset_id, w,
       |             SUM((CASE WHEN u >= 32768 THEN u - 65536 ELSE u END) *
       |                 (CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)) AS e
       |      FROM u GROUP BY 1, 2),
       |l AS (SELECT asset_id, w, e,
       |             LEAD(e) OVER (PARTITION BY asset_id ORDER BY w) AS en
       |      FROM e),
       |bits AS (SELECT asset_id, w,
       |           CASE WHEN en > e
       |                THEN (CAST(1 AS BIGINT) << CAST(w % 32 AS INT))
       |                ELSE CAST(0 AS BIGINT) END AS bit
       |         FROM l WHERE w < 64),
       |fp AS (SELECT asset_id,
       |         CAST(SUM(CASE WHEN w < 32 THEN bit ELSE 0 END) AS BIGINT)
       |           AS fp_lo,
       |         CAST(SUM(CASE WHEN w >= 32 THEN bit ELSE 0 END) AS BIGINT)
       |           AS fp_hi
       |       FROM bits GROUP BY 1)""".stripMargin

  /** DuckDB replay of the q266/q267 Y4M frame-luma pipeline (6x4 mono
    * frames = 24 luma bytes each), computed straight from the raw payload
    * bytes (encode∘decode is frame-identity; the parse itself is
    * spec-covered on hand-built containers). Ends at
    * `m (asset_id, fr, sum_y, mean_milli)`.
    */
  private def y4mOracleCtes(where: String): String =
    s"""src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
       |            FROM documents WHERE $where),
       |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 24 AS n
       |      FROM src WHERE octet_length(p) // 24 >= 1),
       |f AS (SELECT asset_id, h, unnest(range(0, n)) AS fr FROM g),
       |b AS (SELECT asset_id, fr, h, unnest(range(0, 24)) AS i FROM f),
       |s AS (SELECT asset_id, fr,
       |             SUM(CAST(('0x'||substr(h, CAST(2*(fr*24 + i)+1 AS BIGINT), 2))
       |                      AS BIGINT)) AS sum_y
       |      FROM b GROUP BY 1, 2),
       |m AS (SELECT asset_id, fr, sum_y, (sum_y * 1000) // 24 AS mean_milli
       |      FROM s)""".stripMargin

  /** Shared DuckDB replay of the q253/q254 WAV codec: canonical RIFF
    * encode of each document payload's even-length prefix, unhex→hex
    * round trip, then the same header parse as Multimodal.wavHeader. The
    * encoded containers are canonical (data chunk at offset 36), so the
    * parse replays the canonical branch of the chunk walk; the aux-chunk
    * skip is spec-covered (MultimodalSpec) on hand-built containers.
    * Ends at `hdr (asset_id, h, n, dlen, channels, sample_rate, ok)`.
    */
  private def wavOracleCtes(maxDoc: Int): String = {
    def le32(e: String) = {
      val h = s"lpad(hex($e), 8, '0')"
      s"(substr($h,7,2)||substr($h,5,2)||substr($h,3,2)||substr($h,1,2))"
    }
    def le16(e: String) = {
      val h = s"lpad(hex($e), 4, '0')"
      s"(substr($h,3,2)||substr($h,1,2))"
    }
    def u16(o: Int) =
      s"(CAST(('0x'||substr(h,${2 * o + 1},2)) AS BIGINT) + " +
        s"256*CAST(('0x'||substr(h,${2 * o + 3},2)) AS BIGINT))"
    def u32(o: Int) = s"(${u16(o)} + 65536*${u16(o + 2)})"
    s"""src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
       |            FROM documents WHERE doc_id < $maxDoc),
       |g AS (SELECT asset_id, p, (octet_length(p) // 2) * 2 AS dl FROM src
       |      WHERE (octet_length(p) // 2) * 2 >= 2),
       |enc AS (SELECT asset_id,
       |        '52494646' || ${le32("36 + dl")} || '57415645' || '666D7420' ||
       |        ${le32("16")} || ${le16("1")} || ${le16("1")} || ${le32("8000")} ||
       |        ${le32("16000")} || ${le16("2")} || ${le16("16")} || '64617461' ||
       |        ${le32("dl")} || substr(hex(p), 1, CAST(2*dl AS BIGINT)) AS hx
       |        FROM g),
       |d AS (SELECT asset_id, hex(unhex(hx)) AS h, octet_length(unhex(hx)) AS n
       |      FROM enc),
       |hdr AS (SELECT asset_id, h, n, ${u32(40)} AS dlen,
       |               ${u16(22)} AS channels, ${u32(24)} AS sample_rate,
       |               (n >= 44 AND substr(h,1,8) = '52494646'
       |                AND substr(h,17,8) = '57415645'
       |                AND substr(h,25,8) = '666D7420'
       |                AND ${u32(16)} = 16 AND ${u16(20)} = 1
       |                AND ${u16(34)} = 16
       |                AND substr(h,${2 * 36 + 1},8) = '64617461'
       |                AND n >= 44 + ${u32(40)}) AS ok
       |        FROM d)""".stripMargin
  }

  /** DuckDB replay of Dedup's winnowed fingerprint selection (k=4, w=4,
    * seed 11) through the `fp (doc_id, gh, pos, g)` CTE — shared by q250
    * (per-doc report) and q255 (cross-source matrix). MATERIALIZED: fp is
    * referenced more than once downstream and DuckDB inlines CTEs per
    * reference.
    */
  private def winnowOracleCtes: String =
    s"""cl AS (SELECT doc_id, string_split(text,' ') AS l FROM documents
       |            WHERE len(string_split(text,' ')) >= 4),
       |pe AS (SELECT doc_id, CAST(len(l) - 3 AS BIGINT) AS g,
       |              unnest(range(1, len(l) - 2)) AS pos, l FROM cl),
       |gr AS (SELECT doc_id, g, pos,
       |              ${dkHash("array_to_string(l[pos:pos+3], ' ')", 11)} AS gh
       |       FROM pe),
       |wn AS (SELECT doc_id, gh, pos, g,
       |         unnest(range(greatest(pos - 3, 1),
       |                      least(pos, greatest(g - 3, 1)) + 1)) AS t
       |       FROM gr),
       |rk AS (SELECT doc_id, t, gh, pos, g,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id, t
       |                            ORDER BY gh ASC, pos DESC) AS rn
       |       FROM wn),
       |fp AS MATERIALIZED (SELECT DISTINCT doc_id, gh, pos, g FROM rk WHERE rn = 1)""".stripMargin

  /** DuckDB mirror of Dedup's universal-hash minhash: same base hash, same
    * (a_i, b_i) coefficients, same modulus — identical signatures by
    * construction. `base` must be an expression already reduced mod HashP.
    */
  private def dkMinhash(base: String, i: Int): String = {
    val (a, b) = (graft.ext.Dedup.hashCoeffA(i), graft.ext.Dedup.hashCoeffB(i))
    s"(($base * $a + $b) % ${graft.ext.Dedup.HashP})"
  }

  private val dkDot: String =
    "list_sum(list_transform(list_zip(%A.embedding, %B.embedding), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"

  private def dkNorm(t: String): String =
    s"sqrt(list_sum(list_transform($t.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"

  private def dkCosine(a: String, b: String): String =
    dkDot.replace("%A", a).replace("%B", b) + s" / (${dkNorm(a)} * ${dkNorm(b)})"

  /** DuckDB replay of the q40 LSH-ANN pipeline: the hyperplane components
    * are deterministic functions of (seed, dim) (Similarity.planeWeights),
    * so the oracle embeds the SAME weight literals, rebuilds the 2×8-plane
    * sign buckets, and brute-forces within buckets — engine-independent by
    * construction.
    */
  private def lshAnnOracle: String = {
    def sigExpr(t: Int): String = (0 until 8).map { p =>
      val w = graft.ext.Similarity.planeWeights(t * 1000 + p, 64).mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(list_zip(embedding, $w), " +
        "x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE))) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""WITH b AS (
       |  SELECT vec_id, 0 AS tbl, ${sigExpr(0)} AS bucket FROM embeddings
       |  UNION ALL
       |  SELECT vec_id, 1 AS tbl, ${sigExpr(1)} AS bucket FROM embeddings),
       |cand AS (SELECT DISTINCT a.vec_id AS qid, c2.vec_id AS nid
       |         FROM b a JOIN b c2 ON a.tbl = c2.tbl AND a.bucket = c2.bucket
       |                            AND a.vec_id <> c2.vec_id),
       |scored AS (SELECT qid AS query_id, nid AS neighbor_id, ${dkCosine("q", "c")} AS cos
       |           FROM cand JOIN embeddings q ON q.vec_id = qid
       |                     JOIN embeddings c ON c.vec_id = nid),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |                  ROW_NUMBER() OVER (PARTITION BY query_id
       |                    ORDER BY cos DESC, neighbor_id ASC) AS rank
       |           FROM scored)
       |SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, rank
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** DuckDB replay of q228: the same derived hyperplane literals as the
    * q40 oracle (table-0 family), per-plane projection list, base sign
    * bucket, and the (probes−1)=2 lowest-|margin| single-bit flips per
    * query — candidates are base-bucket matches of any probe bucket.
    */
  private def multiProbeOracle: String = {
    val dl = (0 until 8).map { p =>
      val w = graft.ext.Similarity.planeWeights(p, 64).mkString("[", ", ", "]")
      s"list_sum(list_transform(list_zip(embedding, $w), " +
        "x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
    }.mkString("[", ",\n       ", "]")
    s"""WITH d AS (SELECT vec_id, $dl AS dl FROM embeddings),
       |base AS (SELECT vec_id,
       |                array_to_string(list_transform(dl,
       |                  x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket,
       |                dl
       |         FROM d),
       |pp AS (SELECT vec_id, bucket, CAST(g.i - 1 AS INT) AS p, abs(dl[g.i]) AS ad
       |       FROM base CROSS JOIN generate_series(1, 8) AS g(i)),
       |rk AS (SELECT vec_id, bucket, p,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id
       |                ORDER BY ad ASC, p ASC) AS r
       |       FROM pp),
       |pb AS (SELECT vec_id, bucket FROM base
       |       UNION ALL
       |       SELECT vec_id,
       |              substr(bucket, 1, p) ||
       |              (CASE WHEN substr(bucket, p + 1, 1) = '1' THEN '0' ELSE '1' END) ||
       |              substr(bucket, p + 2) AS bucket
       |       FROM rk WHERE r < 3),
       |cand AS (SELECT DISTINCT pr.vec_id AS qid, b.vec_id AS nid
       |         FROM pb pr JOIN base b ON pr.bucket = b.bucket
       |                                AND pr.vec_id <> b.vec_id),
       |scored AS (SELECT qid AS query_id, nid AS neighbor_id, ${dkCosine("q", "c")} AS cos
       |           FROM cand JOIN embeddings q ON q.vec_id = qid
       |                     JOIN embeddings c ON c.vec_id = nid),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |                  ROW_NUMBER() OVER (PARTITION BY query_id
       |                    ORDER BY cos DESC, neighbor_id ASC) AS rank
       |           FROM scored)
       |SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, rank
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** DuckDB replay of q235: all 5 greedy MMR steps unrolled — each step's
    * CTE cross-joins the prior selections, computes
    * 7·rel − 3·max(cos to selected), and keeps the (mmr desc, id asc)
    * argmax. Same cosine folds and λ=7/10 integer-rational coefficients
    * as the engine (no `1 − 0.7` float-literal drift).
    */
  private def mmrOracle: String = {
    val k = 5
    def cos(b: String, bn: String) =
      "list_sum(list_transform(list_zip(r.e, " + b + "), " +
        s"x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE))) / (r.nrm * $bn)"
    val nrmE = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
    val steps = (2 to k).map { i =>
      val prev = 1 until i
      val msExpr =
        if (prev.size == 1) cos("s1.e", "s1.nrm")
        else "GREATEST(" +
          prev.map(j => cos(s"s$j.e", s"s$j.nrm")).mkString(",\n           ") + ")"
      val joins = prev.map(j => s"CROSS JOIN s$j").mkString(" ")
      val notIn = prev.map(j => s"s$j.vec_id").mkString(", ")
      s"""s$i AS (SELECT vec_id, e, nrm, rel, mmr FROM (
         |  SELECT r.vec_id, r.e, r.nrm, r.rel,
         |         7.0 * r.rel - 3.0 * ($msExpr) AS mmr
         |  FROM r $joins
         |  WHERE r.vec_id NOT IN ($notIn))
         |ORDER BY mmr DESC, vec_id ASC LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, vec_id AS doc_id, " +
        s"ROUND(rel, 4) AS rel, ROUND(mmr, 4) AS mmr FROM s$i")
      .mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT embedding AS qe, $nrmE AS qn FROM embeddings WHERE vec_id = 0),
       |r AS (SELECT vec_id, embedding AS e, $nrmE AS nrm,
       |             ${cos("q.qe", "q.qn").replace("r.e", "embedding").replace("r.nrm", nrmE)} AS rel
       |      FROM embeddings CROSS JOIN q WHERE vec_id <> 0),
       |s1 AS (SELECT vec_id, e, nrm, rel, 7.0 * rel - 3.0 * 0.0 AS mmr
       |       FROM r ORDER BY 7.0 * rel - 3.0 * 0.0 DESC, vec_id ASC LIMIT 1),
       |$steps
       |$rows""".stripMargin
  }

  /** DuckDB replay of the q43 IVF pipeline: centroids = the 16 corpus
    * vectors with the smallest md5(vec_id) (same deterministic sample as
    * Similarity.ivfTopK), cells ranked score-desc/index-asc on both sides.
    */
  /** DuckDB replay of q62's repetition metrics — also the gate stage of the
    * q86 corpus-freeze chain.
    */
  private def repetitionOracle: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
      |u AS (SELECT doc_id, g, COUNT(*) AS c
      |      FROM (SELECT doc_id, unnest(l) AS g FROM t) GROUP BY 1, 2),
      |topu AS (SELECT doc_id, MAX(c) AS top_unigram_n FROM u GROUP BY doc_id),
      |tri AS (SELECT doc_id,
      |          CASE WHEN len(l) < 3 THEN CAST([] AS VARCHAR[])
      |               ELSE list_transform(range(1, len(l)-1),
      |                                   i -> array_to_string(l[i:i+2], ' '))
      |          END AS tg
      |        FROM t),
      |m AS (SELECT t.doc_id, CAST(len(t.l) AS BIGINT) AS n_tokens,
      |             topu.top_unigram_n,
      |             CAST(len(tri.tg) AS BIGINT) AS n_trigrams,
      |             CAST(len(list_distinct(tri.tg)) AS BIGINT) AS n_distinct_trigrams
      |      FROM t JOIN topu USING (doc_id) JOIN tri USING (doc_id))
      |SELECT doc_id, n_tokens, top_unigram_n,
      |  CAST(top_unigram_n AS DOUBLE) / n_tokens AS top_unigram_frac,
      |  n_trigrams, n_distinct_trigrams,
      |  CASE WHEN n_trigrams = 0 THEN 0.0
      |       ELSE CAST(n_trigrams - n_distinct_trigrams AS DOUBLE) / n_trigrams
      |  END AS dup_trigram_ratio,
      |  (n_tokens BETWEEN 5 AND 5000)
      |    AND CAST(top_unigram_n AS DOUBLE) / n_tokens <= 0.2
      |    AND (CASE WHEN n_trigrams = 0 THEN 0.0
      |              ELSE CAST(n_trigrams - n_distinct_trigrams AS DOUBLE) / n_trigrams
      |         END) <= 0.35 AS keep
      |FROM m""".stripMargin

  /** The q43 IVF pipeline as a reusable CTE chain (ends at `ranked`). */
  private def ivfAnnCtes: String = {
    val nrm = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
    s"""prep AS (SELECT vec_id, embedding, $nrm AS nrm FROM embeddings),
       |ck AS (SELECT vec_id, embedding, nrm,
       |              ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
       |       FROM prep),
       |cent AS (SELECT CAST(rn - 1 AS INT) AS idx, embedding AS cvec, nrm AS cnrm
       |         FROM ck WHERE rn <= 16),
       |scores AS (SELECT p.vec_id, c.idx,
       |                  list_sum(list_transform(list_zip(p.embedding, c.cvec),
       |                    x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE))) / (p.nrm * c.cnrm) AS score
       |           FROM prep p CROSS JOIN cent c),
       |cells AS (SELECT vec_id, idx,
       |                 ROW_NUMBER() OVER (PARTITION BY vec_id
       |                   ORDER BY score DESC, idx ASC) AS crn
       |          FROM scores),
       |assigned AS (SELECT vec_id, idx AS cell FROM cells WHERE crn = 1),
       |probed AS (SELECT vec_id, idx AS cell FROM cells WHERE crn <= 2),
       |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
       |         FROM probed p JOIN assigned a USING (cell) WHERE p.vec_id <> a.vec_id),
       |scored AS (SELECT query_id, neighbor_id, ${dkCosine("q", "c")} AS cos
       |           FROM cand JOIN embeddings q ON q.vec_id = query_id
       |                     JOIN embeddings c ON c.vec_id = neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |                  ROW_NUMBER() OVER (PARTITION BY query_id
       |                    ORDER BY cos DESC, neighbor_id ASC) AS rank
       |           FROM scored)""".stripMargin
  }

  private def ivfAnnOracle: String =
    s"""WITH $ivfAnnCtes
       |SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, rank
       |FROM ranked WHERE rank <= 5""".stripMargin

  /** DuckDB replay of q78: the q43 IVF chain and the q23 brute-force chain
    * side by side, intersected per probe query — recall@5 recomputed from
    * first principles.
    */
  private def annRecallOracle: String =
    s"""WITH $ivfAnnCtes,
       |ivf AS (SELECT query_id, neighbor_id FROM ranked
       |        WHERE rank <= 5 AND query_id < 10),
       |bscored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |                     ORDER BY ${dkCosine("q", "c")} DESC, c.vec_id ASC) AS brank
       |            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |            WHERE q.vec_id < 10),
       |bf AS (SELECT query_id, neighbor_id FROM bscored WHERE brank <= 5),
       |hits AS (SELECT query_id, COUNT(*) AS n_hits
       |         FROM bf JOIN ivf USING (query_id, neighbor_id) GROUP BY 1)
       |SELECT q.query_id, COALESCE(n_hits, 0) AS n_hits,
       |       CAST(COALESCE(n_hits, 0) AS DOUBLE) / 5 AS recall
       |FROM (SELECT DISTINCT query_id FROM bf) q LEFT JOIN hits USING (query_id)""".stripMargin

  /** DuckDB replay of q54's TRAINED IVF: the two Lloyd iterations unroll
    * into CTE pairs (assign under cN → quantized-integer element means →
    * cN+1), then the same assign/probe/search as the q43 oracle runs under
    * the final centroids. Quantized means (floor(x·2²⁰) integer sums) make
    * each centroid element an exact, order-independent value both engines
    * compute identically; centroid lists keep DuckDB's left-to-right list
    * folds aligned with the Spark-side native dot loops.
    */
  /** DuckDB replay of q69: identical PQ pipeline — same md5-seeded init,
    * same floor(x·2²⁰) integer Lloyd means per (subspace, code), same
    * ‖x‖²−2x·c+‖c‖² distance association, same (dist, code) / (adist, id)
    * tie-breaks — so codebooks, codes, and ADC distances are bit-exact.
    */
  /** CTE chain for ONE PQ train/encode/ADC pipeline (m subspaces of width
    * `sub`): md5-seeded codebooks, two Lloyd iterations with floor(x·2²⁰)
    * integer means, corpus assignment, and per-(query, neighbor) ADC
    * distances against the query CTE `qsCte(query_id, embedding)`.
    * Requires global `prep`/`ck` CTEs; every emitted CTE name carries
    * `pfx` so several m values coexist in one statement (q226's sweep
    * uses three). Ends with `${pfx}ad(query_id, neighbor_id, adist)`.
    */
  private def pqAdcCtes(pfx: String, m: Int, k: Int, sub: Int, qsCte: String): String = {
    def subExpr(tbl: String) = s"$tbl.embedding[(c.m*$sub+1):(c.m*$sub+$sub)]"
    def dist(tbl: String) =
      s"""list_sum(list_transform(${subExpr(tbl)}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
         |    - 2 * list_sum(list_transform(list_zip(${subExpr(tbl)}, c.cvec), x -> CAST(x[1] AS DOUBLE)*x[2]))
         |    + list_sum(list_transform(c.cvec, x -> x*x))""".stripMargin
    def assignCtes(n: Int, prev: String): String =
      s"""${pfx}d$n AS (SELECT p.vec_id, c.m, c.code, ${dist("p")} AS dist
         |        FROM prep p CROSS JOIN $prev c),
         |${pfx}a$n AS (SELECT vec_id, m, code FROM (
         |          SELECT vec_id, m, code, ROW_NUMBER() OVER (PARTITION BY vec_id, m
         |            ORDER BY dist ASC, code ASC) AS arn FROM ${pfx}d$n) WHERE arn = 1)""".stripMargin
    def iteration(n: Int, prev: String): String =
      s"""${assignCtes(n, prev)},
         |${pfx}e$n AS (SELECT a.m, a.code, g.i AS pos,
         |               CAST(floor(CAST(p.embedding[a.m*$sub + g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
         |        FROM ${pfx}a$n a JOIN prep p USING (vec_id)
         |        CROSS JOIN generate_series(1, $sub) AS g(i)),
         |${pfx}m$n AS (SELECT m, code, list(mval ORDER BY pos) AS cvec FROM (
         |          SELECT m, code, pos, CAST(SUM(qv) AS DOUBLE) / COUNT(*) / 1048576.0 AS mval
         |          FROM ${pfx}e$n GROUP BY 1, 2, 3) GROUP BY m, code),
         |${pfx}c$n AS (SELECT p.m, p.code, COALESCE(mm.cvec, p.cvec) AS cvec
         |        FROM $prev p LEFT JOIN ${pfx}m$n mm USING (m, code))""".stripMargin
    s"""${pfx}mm AS (SELECT unnest(range(0, $m)) AS m),
       |${pfx}c0 AS (SELECT CAST(ms.m AS INT) AS m, CAST(ck.rn - 1 AS INT) AS code,
       |              list_transform(ck.embedding[(CAST(ms.m AS INT)*$sub+1):(CAST(ms.m AS INT)*$sub+$sub)],
       |                             x -> CAST(x AS DOUBLE)) AS cvec
       |       FROM ck CROSS JOIN ${pfx}mm ms WHERE ck.rn <= $k),
       |${iteration(1, s"${pfx}c0")},
       |${iteration(2, s"${pfx}c1")},
       |${assignCtes(3, s"${pfx}c2")},
       |${pfx}dt AS (SELECT q.query_id, c.m, c.code, ${dist("q")} AS dist
       |       FROM $qsCte q CROSS JOIN ${pfx}c2 c),
       |${pfx}ad AS (SELECT t.query_id, a.vec_id AS neighbor_id,
       |              list_sum(list(t.dist ORDER BY t.m)) AS adist
       |       FROM ${pfx}a3 a JOIN ${pfx}dt t ON a.m = t.m AND a.code = t.code
       |       WHERE t.query_id <> a.vec_id
       |       GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB replay of q69: the [[pqAdcCtes]] pipeline at m=4, ranked. */
  private def pqOracle: String =
    s"""WITH prep AS (SELECT vec_id, embedding FROM embeddings),
       |ck AS (SELECT vec_id, embedding,
       |              ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
       |       FROM prep),
       |qs AS (SELECT vec_id AS query_id, embedding FROM ck WHERE rn <= 10),
       |${pqAdcCtes("", 4, 8, 16, "qs")},
       |ranked AS (SELECT query_id, neighbor_id, adist,
       |                  ROW_NUMBER() OVER (PARTITION BY query_id
       |                    ORDER BY adist ASC, neighbor_id ASC) AS rank
       |           FROM ad)
       |SELECT query_id, neighbor_id, adist, rank FROM ranked WHERE rank <= 5""".stripMargin

  /** DuckDB replay of q226: the full PQ pipeline once per m (prefixed CTE
    * chains), each ADC ranking scored for recall@5 against ONE shared
    * exact-L2 truth (same ‖q‖²−2q·v+‖v‖² association as the ADC
    * distances, ties to the lowest neighbor id).
    */
  private def pqCurveOracle: String = {
    val (k, nq, topk) = (8, 10, 5)
    val ms = Seq(2, 4, 8)
    def sq(t: String) =
      s"list_sum(list_transform($t.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"
    val tdist =
      s"""${sq("q")}
         |    - 2 * list_sum(list_transform(list_zip(q.embedding, c.embedding), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))
         |    + ${sq("c")}""".stripMargin
    val perM = ms.map(m => pqAdcCtes(s"p${m}_", m, k, 64 / m, "tq")).mkString(",\n")
    val hits = ms.map { m =>
      s"""p${m}_rk AS (SELECT query_id, neighbor_id,
         |              ROW_NUMBER() OVER (PARTITION BY query_id
         |                ORDER BY adist ASC, neighbor_id ASC) AS rank
         |       FROM p${m}_ad),
         |p${m}_h AS (SELECT COUNT(*) AS sum_hits FROM p${m}_rk
         |       JOIN truth USING (query_id, neighbor_id) WHERE rank <= $topk)""".stripMargin
    }.mkString(",\n")
    val rows = ms.map { m =>
      s"SELECT CAST($m AS BIGINT) AS m, n_queries, sum_hits FROM p${m}_h CROSS JOIN nqs"
    }.mkString("\nUNION ALL\n")
    s"""WITH prep AS (SELECT vec_id, embedding FROM embeddings),
       |ck AS (SELECT vec_id, embedding,
       |              ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
       |       FROM prep),
       |tq AS (SELECT vec_id AS query_id, embedding FROM ck WHERE rn <= $nq),
       |td AS (SELECT q.query_id, c.vec_id AS neighbor_id, $tdist AS dist
       |       FROM tq q JOIN embeddings c ON c.vec_id <> q.query_id),
       |truth AS (SELECT query_id, neighbor_id FROM (
       |          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY dist ASC, neighbor_id ASC) AS rk FROM td) WHERE rk <= $topk),
       |nqs AS (SELECT COUNT(DISTINCT query_id) AS n_queries FROM truth),
       |$perM,
       |$hits
       |SELECT m,
       |       CAST(n_queries AS BIGINT) AS n_queries,
       |       CAST(sum_hits AS BIGINT) AS sum_hits,
       |       CAST(CASE WHEN n_queries > 0
       |                 THEN (sum_hits * 1048576) // (n_queries * $topk)
       |                 ELSE 0 END AS BIGINT) AS recall_fp
       |FROM ($rows)""".stripMargin
  }

  /** The q54 two-iteration k-means training + assignment as a reusable CTE
    * chain: ends at `cells` (every vector × cell, ranked by cosine) and
    * `assigned` (the argmax cell per vector). Shared by the trained-IVF,
    * semantic-dedup, and hard-negative oracles — one derivation, three
    * replays.
    */
  private def kmeansAssignCtes: String = {
    val nrm = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
    val dotPC = "list_sum(list_transform(list_zip(p.embedding, c.cvec), " +
      "x -> CAST(x[1] AS DOUBLE)*x[2]))"
    def iteration(n: Int, prevC: String): String =
      s"""s$n AS (SELECT p.vec_id, c.cell, $dotPC / (p.nrm * c.cnrm) AS score
         |        FROM prep p CROSS JOIN $prevC c),
         |a$n AS (SELECT vec_id, cell FROM (
         |          SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
         |            ORDER BY score DESC, cell ASC) AS crn FROM s$n) WHERE crn = 1),
         |e$n AS (SELECT a.cell, g.i AS pos,
         |               CAST(floor(CAST(p.embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
         |        FROM a$n a JOIN prep p USING (vec_id)
         |        CROSS JOIN generate_series(1, 64) AS g(i)),
         |m$n AS (SELECT cell, list(mval ORDER BY pos) AS cvec FROM (
         |          SELECT cell, pos,
         |                 CAST(SUM(qv) AS DOUBLE) / COUNT(*) / 1048576.0 AS mval
         |          FROM e$n GROUP BY 1, 2) GROUP BY cell),
         |c$n AS (SELECT p.cell, COALESCE(m.cvec, p.cvec) AS cvec,
         |               CASE WHEN m.cvec IS NULL THEN p.cnrm
         |                    ELSE sqrt(list_sum(list_transform(m.cvec, x -> x*x)))
         |               END AS cnrm
         |        FROM $prevC p LEFT JOIN m$n m USING (cell))""".stripMargin
    s"""prep AS (SELECT vec_id, embedding, $nrm AS nrm FROM embeddings),
       |ck AS (SELECT vec_id, embedding, nrm,
       |              ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
       |       FROM prep),
       |c0 AS (SELECT CAST(rn - 1 AS INT) AS cell,
       |              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec,
       |              nrm AS cnrm
       |       FROM ck WHERE rn <= 8),
       |${iteration(1, "c0")},
       |${iteration(2, "c1")},
       |sf AS (SELECT p.vec_id, c.cell, $dotPC / (p.nrm * c.cnrm) AS score
       |       FROM prep p CROSS JOIN c2 c),
       |cells AS (SELECT vec_id, cell,
       |                 ROW_NUMBER() OVER (PARTITION BY vec_id
       |                   ORDER BY score DESC, cell ASC) AS crn
       |          FROM sf),
       |assigned AS (SELECT vec_id, cell FROM cells WHERE crn = 1)""".stripMargin
  }

  private def ivfTrainedOracle: String =
    s"""WITH $kmeansAssignCtes,
       |probed AS (SELECT vec_id, cell FROM cells WHERE crn <= 2),
       |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
       |         FROM probed p JOIN assigned a USING (cell) WHERE p.vec_id <> a.vec_id),
       |scored AS (SELECT query_id, neighbor_id, ${dkCosine("q", "c")} AS cos
       |           FROM cand JOIN embeddings q ON q.vec_id = query_id
       |                     JOIN embeddings c ON c.vec_id = neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, cos,
       |                  ROW_NUMBER() OVER (PARTITION BY query_id
       |                    ORDER BY cos DESC, neighbor_id ASC) AS rank
       |           FROM scored)
       |SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, rank
       |FROM ranked WHERE rank <= 5""".stripMargin

  /** DuckDB replay of q93: the q54 k-means assignment, exact cosine over
    * intra-cell pairs at τ ≥ 0.3, transitive closure for the semantic
    * clusters, min-id canonical — the SemDeDup recipe end to end.
    */
  private def semanticDedupOracle: String =
    s"""WITH RECURSIVE $kmeansAssignCtes,
       |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |          FROM assigned a JOIN assigned b
       |            ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |sc AS (SELECT id_a, id_b FROM pairs
       |       JOIN embeddings ea ON ea.vec_id = id_a
       |       JOIN embeddings eb ON eb.vec_id = id_b
       |       WHERE ROUND(${dkCosine("ea", "eb")}, 4) >= 0.3),
       |edges AS (SELECT id_a AS u, id_b AS v FROM sc
       |          UNION ALL SELECT id_b, id_a FROM sc),
       |nodes AS (SELECT DISTINCT u AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
       |lab AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id)
       |SELECT a.vec_id, a.cell,
       |       COALESCE(l.canonical, a.vec_id) AS cluster_id,
       |       COALESCE(l.canonical = a.vec_id, TRUE) AS keep
       |FROM assigned a LEFT JOIN lab l ON l.id = a.vec_id""".stripMargin

  /** DuckDB replay of q94: the trained-IVF probe path with the label
    * inequality applied before ranking — top-5 different-label neighbours.
    */
  private def hardNegativesOracle: String =
    s"""WITH $kmeansAssignCtes,
       |probed AS (SELECT vec_id, cell FROM cells WHERE crn <= 2),
       |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
       |         FROM probed p JOIN assigned a USING (cell) WHERE p.vec_id <> a.vec_id),
       |scored AS (SELECT query_id, q.label AS query_label,
       |                  neighbor_id, c.label AS neighbor_label,
       |                  ${dkCosine("q", "c")} AS cos
       |           FROM cand JOIN embeddings q ON q.vec_id = query_id
       |                     JOIN embeddings c ON c.vec_id = neighbor_id
       |           WHERE q.label <> c.label),
       |ranked AS (SELECT query_id, query_label, neighbor_id, neighbor_label, cos,
       |                  ROW_NUMBER() OVER (PARTITION BY query_id
       |                    ORDER BY cos DESC, neighbor_id ASC) AS rank
       |           FROM scored)
       |SELECT query_id, query_label, neighbor_id, neighbor_label,
       |       ROUND(cos, 4) AS cosine, rank
       |FROM ranked WHERE rank <= 5""".stripMargin

  /** DuckDB mirror of the q38 near-dup pipeline: same portable hashes, same
    * 16-hash/4-band layout, same candidate semi-join before the Jaccard
    * verify.
    */
  private def nearDupOracle: String = {
    val mins = (0 until 16).map(i => s"MIN(${dkMinhash("hb", i)}) AS mh$i").mkString(",\n  ")
    val bandUnion = (0 until 4).map { b =>
      s"SELECT id, $b AS band_idx, md5(concat_ws('|', mh${4 * b}, mh${4 * b + 1}, mh${4 * b + 2}, mh${4 * b + 3})) AS band_hash FROM mh"
    }.mkString("\n    UNION ALL ")
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
       |s0 AS (SELECT doc_id AS id, $dkShingles AS sh FROM t),
       |s AS (SELECT id, unnest(sh) AS shingle FROM s0),
       |hb AS (SELECT id, ${dkHash("shingle", 0)} % ${graft.ext.Dedup.HashP} AS hb FROM s),
       |mh AS (SELECT id, $mins FROM hb GROUP BY id),
       |bands AS ($bandUnion),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |         FROM bands a JOIN bands b ON a.band_idx = b.band_idx
       |          AND a.band_hash = b.band_hash AND a.id < b.id),
       |sizes AS (SELECT id, COUNT(*) AS n FROM s GROUP BY id),
       |c AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
       |      FROM s a JOIN s b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2),
       |cc AS (SELECT c.* FROM c SEMI JOIN cand USING (id_a, id_b))
       |SELECT id_a, id_b, common, na.n AS n_a, nb.n AS n_b,
       |       CAST(common AS DOUBLE) / (na.n + nb.n - common) AS jaccard
       |FROM cc JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
       |WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= 0.5""".stripMargin
  }

  /** DuckDB mirror of q44: the same near-dup pairs, then connected
    * components as a recursive transitive closure — min reachable id per
    * node IS what min-label propagation converges to.
    */
  private def dedupClusterOracle: String =
    s"""WITH RECURSIVE np AS (SELECT id_a, id_b FROM ($nearDupOracle)),
       |edges AS (SELECT id_a AS u, id_b AS v FROM np
       |          UNION ALL SELECT id_b, id_a FROM np),
       |nodes AS (SELECT DISTINCT u AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v)
       |SELECT id AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY id""".stripMargin

  /** DuckDB replay of q58: the q44 cluster derivation (recursive-CTE
    * reachability over the near-dup pair set) left-joined onto per-doc
    * quality (the q17 expression), then the same per-cluster argmax.
    */
  private def canonicalDocsOracle: String = {
    val nt = "len(string_split(text,' '))"
    val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
    val quality =
      s"""LEAST(GREATEST(
         |    (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |    LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |    LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0)""".stripMargin
    s"""WITH cl AS (SELECT * FROM ($dedupClusterOracle)),
       |q AS (SELECT doc_id, $quality AS quality FROM documents),
       |m AS (SELECT q.doc_id, COALESCE(cl.canonical_id, q.doc_id) AS cluster_id,
       |             q.quality
       |      FROM q LEFT JOIN cl USING (doc_id)),
       |r AS (SELECT cluster_id, doc_id, quality,
       |             ROW_NUMBER() OVER (PARTITION BY cluster_id
       |               ORDER BY quality DESC, doc_id ASC) AS rk,
       |             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
       |      FROM m)
       |SELECT cluster_id, doc_id AS kept_doc_id, n_members,
       |       ROUND(quality, 6) AS kept_quality
       |FROM r WHERE rk = 1""".stripMargin
  }

  /** DuckDB replay of q57's int8 quantization: identical scale derivation,
    * floor(x·scale + 0.5) values, and digest/sum/min/max reductions.
    */
  private def quantizeOracle: String = {
    val maxabs = "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
    s"""WITH q AS (SELECT vec_id, embedding,
       |  CASE WHEN $maxabs = 0 THEN 1.0 ELSE 127.0 / $maxabs END AS scale
       |  FROM embeddings),
       |v AS (SELECT vec_id, scale,
       |  list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INT)) AS qvec
       |  FROM q)
       |SELECT vec_id, ROUND(scale, 6) AS scale,
       |  md5(array_to_string(qvec, ',')) AS q_digest,
       |  CAST(list_sum(qvec) AS BIGINT) AS q_sum,
       |  CAST(list_min(qvec) AS INT) AS q_min,
       |  CAST(list_max(qvec) AS INT) AS q_max
       |FROM v""".stripMargin
  }

  private def extOracleSql: Map[String, String] = Map(
    "q58_canonical_docs" -> canonicalDocsOracle,
    "q57_embedding_quantize" -> quantizeOracle,
    "q38_near_dups" -> nearDupOracle,
    "q252_dup_kcore" -> {
      // 8 unrolled peel rounds; peeling is monotone so rounds past the
      // fixpoint are no-ops (the engine's loop converges on this data in
      // fewer — spec-checked on fixtures). MATERIALIZED per round: each
      // e$r is referenced 3x and inlined CTEs would re-evaluate the whole
      // peel chain exponentially (the q249 lesson).
      def round(r: Int) =
        s"""d$r AS (SELECT u, COUNT(*) AS d FROM e${r - 1} GROUP BY u),
           |k$r AS (SELECT u FROM d$r WHERE d >= 2),
           |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
           |       SEMI JOIN k$r a ON e.u = a.u
           |       SEMI JOIN k$r b ON e.v = b.u)""".stripMargin
      s"""WITH np AS (SELECT id_a, id_b FROM ($nearDupOracle)),
         |e0 AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM np
         |      UNION ALL SELECT id_b, id_a FROM np),
         |${(1 to 8).map(round).mkString(",\n")}
         |SELECT u AS id, COUNT(*) AS core_degree FROM e8 GROUP BY 1""".stripMargin
    },
    "q40_ann_lsh" -> lshAnnOracle,
    "q228_multiprobe_lsh" -> multiProbeOracle,
    "q234_source_concentration" ->
      """WITH m AS (SELECT source,
        |                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS m
        |           FROM documents GROUP BY 1),
        |top AS (SELECT source AS top_source, m AS top_tokens FROM m
        |        ORDER BY m DESC, source ASC LIMIT 1),
        |a AS (SELECT COUNT(*) AS n_sources,
        |             CAST(SUM(m) AS BIGINT) AS total_tokens,
        |             SUM(CAST(m AS HUGEINT) * m) AS sumsq
        |      FROM m)
        |SELECT CAST(n_sources AS BIGINT) AS n_sources, total_tokens,
        |       top_source, top_tokens,
        |       CAST(CASE WHEN total_tokens > 0
        |                 THEN (sumsq * 1048576) //
        |                      (CAST(total_tokens AS HUGEINT) * total_tokens)
        |                 ELSE 0 END AS BIGINT) AS hhi_fp,
        |       CAST(CASE WHEN total_tokens > 0
        |                 THEN (top_tokens * 1048576) // total_tokens
        |                 ELSE 0 END AS BIGINT) AS top_share_fp
        |FROM a CROSS JOIN top""".stripMargin,
    "q231_shard_balance" -> {
      val h = dkHash("CAST(doc_id AS VARCHAR)", 11)
      s"""WITH d AS (SELECT $h % 16 AS shard,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
         |           FROM documents),
         |p AS (SELECT shard, COUNT(*) AS n_docs,
         |             CAST(SUM(tok) AS BIGINT) AS n_tokens
         |      FROM d GROUP BY 1),
         |t AS (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS total FROM p),
         |fr AS (SELECT unnest(range(0, 16)) AS shard)
         |SELECT CAST(fr.shard AS BIGINT) AS shard,
         |       CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs,
         |       CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
         |       CAST(COALESCE(n_tokens, 0) * 16 - total AS BIGINT) AS dev_num
         |FROM fr LEFT JOIN p USING (shard) CROSS JOIN t""".stripMargin
    },
    "q232_boundary_chains" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
        |hb AS (SELECT doc_id,
        |              array_to_string(l[1:3], ' ') AS head,
        |              array_to_string(l[GREATEST(len(l) - 2, 1):len(l)], ' ') AS tail
        |       FROM t)
        |SELECT a.doc_id AS prev_id, b.doc_id AS next_id, a.tail AS boundary
        |FROM hb a JOIN hb b ON a.tail = b.head AND a.doc_id <> b.doc_id""".stripMargin,
    "q233_source_caps" ->
      """WITH m AS (SELECT source,
        |                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY 1),
        |rk AS (SELECT source, n_tokens,
        |              ROW_NUMBER() OVER (ORDER BY n_tokens ASC, source ASC) AS r,
        |              SUM(n_tokens) OVER (ORDER BY n_tokens ASC, source ASC
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |       FROM m),
        |st AS (SELECT COUNT(*) AS s, SUM(n_tokens) AS total, MAX(n_tokens) AS mx FROM m),
        |cand AS (SELECT CASE WHEN r < s AND c <= 150000
        |                     THEN (150000 - c) // (s - r) END AS cand,
        |                s, total, mx
        |         FROM rk CROSS JOIN st),
        |lv AS (SELECT CASE WHEN total <= 150000 THEN mx
        |              ELSE GREATEST(COALESCE(MAX(cand), 0), 150000 // s) END AS level
        |       FROM cand GROUP BY s, total, mx)
        |SELECT m.source, m.n_tokens, CAST(level AS BIGINT) AS level,
        |       CAST(LEAST(m.n_tokens, level) AS BIGINT) AS cap_tokens,
        |       CAST(m.n_tokens - LEAST(m.n_tokens, level) AS BIGINT) AS trimmed_tokens
        |FROM m CROSS JOIN lv""".stripMargin,
    "q230_cms_error_profile" ->
      s"""WITH t AS (SELECT string_split(lower(text), ' ') AS l FROM documents),
         |s AS (SELECT unnest($dkShingles) AS item FROM t),
         |c AS (SELECT item, COUNT(*) AS exact_cnt FROM s GROUP BY 1),
         |sk AS (SELECT i AS row_i,
         |              CAST(('0x'||substr(md5(item||'#'||CAST(41+i AS VARCHAR)),1,15)) AS BIGINT) % 1024 AS pos,
         |              SUM(exact_cnt) AS c
         |       FROM c, range(4) r(i) GROUP BY 1, 2),
         |e AS (SELECT q.item, q.exact_cnt, MIN(sk.c) AS cms_estimate
         |      FROM (SELECT item, exact_cnt, i,
         |              CAST(('0x'||substr(md5(item||'#'||CAST(41+i AS VARCHAR)),1,15)) AS BIGINT) % 1024 AS pos
         |            FROM c, range(4) r(i)) q
         |      JOIN sk ON sk.row_i = q.i AND sk.pos = q.pos
         |      GROUP BY 1, 2),
         |x AS (SELECT cms_estimate - exact_cnt AS err FROM e)
         |SELECT CAST(CASE WHEN err = 0 THEN 0
         |                 ELSE length(bin(err)) END AS BIGINT) AS err_bucket,
         |       COUNT(*) AS n_items,
         |       CAST(SUM(err) AS BIGINT) AS sum_err,
         |       CAST(MAX(err) AS BIGINT) AS max_err
         |FROM x GROUP BY 1""".stripMargin,
    "q235_mmr_select" -> mmrOracle,
    "q240_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u
        |            FROM events WHERE user_id IS NOT NULL),
        |sz AS (SELECT t, COUNT(*) AS n FROM tu GROUP BY 1),
        |i AS (SELECT a.t AS type_a, b.t AS type_b, COUNT(*) AS n_common
        |      FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b,
        |       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
        |       CAST(n_common AS BIGINT) AS n_common,
        |       CAST((n_common * 1048576) // (sa.n + sb.n - n_common) AS BIGINT)
        |         AS jaccard_fp
        |FROM i JOIN sz sa ON sa.t = type_a JOIN sz sb ON sb.t = type_b""".stripMargin,
    "q239_hll_audit" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
        "l_linestatus", "l_shipdate")
      val stacked = cols.map(c =>
        s"""SELECT '$c' AS column_name, CAST($c AS VARCHAR) AS v
           |FROM lineitem WHERE $c IS NOT NULL""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH s AS ($stacked),
         |x AS (SELECT column_name, COUNT(DISTINCT v) AS exact_distinct
         |      FROM s GROUP BY 1),
         |h AS (SELECT column_name, ${dkHash("v", 17)} AS h FROM s),
         |b AS (SELECT column_name, h % 64 AS bucket, h // 64 AS rest FROM h),
         |z AS (SELECT column_name, bucket,
         |             least(length(bin(rest)) - length(rtrim(bin(rest), '0')) + 1, 55) AS rho
         |      FROM b),
         |r AS (SELECT column_name, bucket, MAX(rho) AS max_rho FROM z GROUP BY 1, 2),
         |st AS (SELECT column_name, COUNT(*) AS present,
         |              SUM(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INT)) AS si
         |       FROM r GROUP BY 1),
         |e AS (SELECT column_name,
         |             CAST(64 - present AS BIGINT) AS n_zero_registers,
         |             ROUND((0.709 * 64 * 64) * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
         |                   / CAST(si + (64 - present) * (CAST(1 AS BIGINT) << 55) AS DOUBLE),
         |                   4) AS raw_estimate
         |      FROM st),
         |fr AS (${cols.map(c => s"SELECT '$c' AS column_name").mkString(" UNION ALL ")})
         |SELECT fr.column_name,
         |       CAST(COALESCE(exact_distinct, 0) AS BIGINT) AS exact_distinct,
         |       CAST(COALESCE(n_zero_registers, 64) AS BIGINT) AS n_zero_registers,
         |       raw_estimate,
         |       CASE WHEN exact_distinct > 0
         |            THEN ROUND(raw_estimate / CAST(exact_distinct AS DOUBLE), 4)
         |       END AS est_ratio
         |FROM fr LEFT JOIN x USING (column_name) LEFT JOIN e USING (column_name)""".stripMargin
    },
    "q238_pcm_energy" ->
      """WITH a AS (SELECT doc_id AS asset_id,
        |                  hex(CAST(text AS BLOB)) AS h,
        |                  octet_length(CAST(text AS BLOB)) // 2 AS ns
        |           FROM documents WHERE doc_id < 100),
        |s AS (SELECT asset_id, h, unnest(range(0, ns)) AS i FROM a),
        |u AS (SELECT asset_id, i // 16 AS window_idx,
        |             CAST(('0x'||substr(h, CAST(4*i+1 AS BIGINT), 2)) AS BIGINT)
        |             + 256 * CAST(('0x'||substr(h, CAST(4*i+3 AS BIGINT), 2)) AS BIGINT) AS u
        |      FROM s),
        |v AS (SELECT asset_id, window_idx,
        |             CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
        |      FROM u)
        |SELECT asset_id, CAST(window_idx AS BIGINT) AS window_idx,
        |       COUNT(*) AS n_samples, CAST(SUM(v*v) AS BIGINT) AS energy
        |FROM v GROUP BY 1, 2""".stripMargin,
    "q241_bmp_stats" ->
      s"""WITH $bmpOracleCtes,
         |s AS (SELECT asset_id, COUNT(*) AS n_pixels, SUM(rd) AS sum_r,
         |             SUM(gr) AS sum_g, SUM(bl) AS sum_b,
         |             SUM(299*rd + 587*gr + 114*bl) AS lum
         |      FROM c GROUP BY 1)
         |SELECT v.asset_id, TRUE AS is_valid, CAST(w AS BIGINT) AS width,
         |       CAST(hgt2 AS BIGINT) AS height, CAST(n_pixels AS BIGINT) AS n_pixels,
         |       CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
         |       CAST(sum_b AS BIGINT) AS sum_b,
         |       CAST(lum // n_pixels AS BIGINT) AS mean_luma_milli
         |FROM v JOIN s USING (asset_id)""".stripMargin,
    "q244_bmp_luma_hist" ->
      s"""WITH $bmpOracleCtes,
         |l AS (SELECT (299*rd + 587*gr + 114*bl) AS luma FROM c),
         |bn AS (SELECT luma // 16000 AS bin, COUNT(*) AS n_pixels FROM l GROUP BY 1),
         |fr AS (SELECT unnest(range(0, 16)) AS bin)
         |SELECT CAST(fr.bin AS BIGINT) AS bin,
         |       CAST(fr.bin * 16000 AS BIGINT) AS lo_milli,
         |       CAST(COALESCE(n_pixels, 0) AS BIGINT) AS n_pixels
         |FROM fr LEFT JOIN bn USING (bin)""".stripMargin,
    "q257_ppm_stats" ->
      s"""WITH $ppmOracleCtes,
         |s AS (SELECT asset_id, COUNT(*) AS n_pixels, SUM(rd) AS sum_r,
         |             SUM(gr) AS sum_g, SUM(bl) AS sum_b,
         |             SUM(299*rd + 587*gr + 114*bl) AS lum
         |      FROM c GROUP BY 1)
         |SELECT v.asset_id, TRUE AS is_valid, CAST(w AS BIGINT) AS width,
         |       CAST(hgt2 AS BIGINT) AS height, CAST(n_pixels AS BIGINT) AS n_pixels,
         |       CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
         |       CAST(sum_b AS BIGINT) AS sum_b,
         |       CAST(lum // n_pixels AS BIGINT) AS mean_luma_milli
         |FROM v JOIN s USING (asset_id)""".stripMargin,
    // q260's oracle never runs the codec: encode∘decode is pixel-identity,
    // so the expected stats are computable straight from the raw payload
    // bytes (RGB triplets, width 6 ⇒ 18 bytes/row, tail dropped)
    "q260_qoi_stats" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 120),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 18 AS hgt
        |      FROM src WHERE octet_length(p) // 18 >= 1),
        |px AS (SELECT asset_id, hgt, h, unnest(range(0, hgt * 6)) AS i FROM g),
        |c AS (SELECT asset_id, hgt,
        |        CAST(('0x'||substr(h, CAST(6*i+1 AS BIGINT), 2)) AS BIGINT) AS rd,
        |        CAST(('0x'||substr(h, CAST(6*i+3 AS BIGINT), 2)) AS BIGINT) AS gr,
        |        CAST(('0x'||substr(h, CAST(6*i+5 AS BIGINT), 2)) AS BIGINT) AS bl
        |      FROM px)
        |SELECT asset_id, TRUE AS is_valid, CAST(6 AS BIGINT) AS width,
        |       CAST(hgt AS BIGINT) AS height, CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(rd) AS BIGINT) AS sum_r, CAST(SUM(gr) AS BIGINT) AS sum_g,
        |       CAST(SUM(bl) AS BIGINT) AS sum_b,
        |       CAST(SUM(299*rd + 587*gr + 114*bl) // COUNT(*) AS BIGINT)
        |         AS mean_luma_milli
        |FROM c GROUP BY asset_id, hgt""".stripMargin,
    // q261: a full QOI-ENCODE replay (the op-count state machine —
    // 64-slot recency index, run chunking, wrapped DIFF/LUMA deltas — as a
    // recursive CTE advancing one pixel per step per asset), closing the
    // suite's one oracle-dark query: every branch validated against the
    // engine's encoder on crafted payloads and on sf0.01.
    "q261_qoi_compression" ->
      """WITH RECURSIVE src AS (
        |  SELECT doc_id AS id, source, CAST(text AS BLOB) AS p
        |  FROM documents WHERE doc_id < 200),
        |g AS (
        |  SELECT id, source, hex(p) AS h, octet_length(p) // 18 AS hgt
        |  FROM src WHERE octet_length(p) >= 18),
        |px AS (
        |  SELECT id, i,
        |    CAST(('0x'||substr(h, CAST(6*i+1 AS BIGINT), 2)) AS BIGINT) AS r,
        |    CAST(('0x'||substr(h, CAST(6*i+3 AS BIGINT), 2)) AS BIGINT) AS g2,
        |    CAST(('0x'||substr(h, CAST(6*i+5 AS BIGINT), 2)) AS BIGINT) AS b
        |  FROM (SELECT id, h, hgt, unnest(range(0, hgt*6)) AS i FROM g)),
        |enc AS (
        |  SELECT id, hgt*6 AS npx, 0 AS i,
        |    CAST(0 AS BIGINT) AS pr, CAST(0 AS BIGINT) AS pg, CAST(0 AS BIGINT) AS pb,
        |    0 AS run,
        |    list_transform(range(64), x -> CAST(0 AS BIGINT)) AS idx,
        |    CAST(0 AS BIGINT) AS ops_run, CAST(0 AS BIGINT) AS ops_index,
        |    CAST(0 AS BIGINT) AS ops_diff, CAST(0 AS BIGINT) AS ops_luma,
        |    CAST(0 AS BIGINT) AS ops_rgb
        |  FROM g
        |  UNION ALL
        |  SELECT id, npx, i+1, r, g2, b,
        |    CASE WHEN eq THEN (CASE WHEN run+1 = 62 OR i = npx-1 THEN 0 ELSE run+1 END)
        |         ELSE 0 END AS run,
        |    CASE WHEN eq OR hit THEN idx
        |         ELSE list_concat(list_concat(idx[1:pos], [packed]), idx[pos+2:64])
        |    END AS idx,
        |    ops_run + CASE WHEN eq THEN (CASE WHEN run+1 = 62 OR i = npx-1 THEN 1 ELSE 0 END)
        |                   ELSE (CASE WHEN run > 0 THEN 1 ELSE 0 END) END,
        |    ops_index + CASE WHEN NOT eq AND hit THEN 1 ELSE 0 END,
        |    ops_diff + CASE WHEN NOT eq AND NOT hit
        |      AND vr BETWEEN -2 AND 1 AND vg BETWEEN -2 AND 1 AND vb BETWEEN -2 AND 1
        |      THEN 1 ELSE 0 END,
        |    ops_luma + CASE WHEN NOT eq AND NOT hit
        |      AND NOT (vr BETWEEN -2 AND 1 AND vg BETWEEN -2 AND 1 AND vb BETWEEN -2 AND 1)
        |      AND vg BETWEEN -32 AND 31 AND vr-vg BETWEEN -8 AND 7 AND vb-vg BETWEEN -8 AND 7
        |      THEN 1 ELSE 0 END,
        |    ops_rgb + CASE WHEN NOT eq AND NOT hit
        |      AND NOT (vr BETWEEN -2 AND 1 AND vg BETWEEN -2 AND 1 AND vb BETWEEN -2 AND 1)
        |      AND NOT (vg BETWEEN -32 AND 31 AND vr-vg BETWEEN -8 AND 7 AND vb-vg BETWEEN -8 AND 7)
        |      THEN 1 ELSE 0 END
        |  FROM (
        |    SELECT e.*, p2.r, p2.g2, p2.b,
        |      (p2.r = e.pr AND p2.g2 = e.pg AND p2.b = e.pb) AS eq,
        |      CAST((3*p2.r + 5*p2.g2 + 7*p2.b + 2805) % 64 AS INT) AS pos,
        |      p2.r*16777216 + p2.g2*65536 + p2.b*256 + 255 AS packed,
        |      (e.idx[CAST((3*p2.r + 5*p2.g2 + 7*p2.b + 2805) % 64 AS INT)+1]
        |        = p2.r*16777216 + p2.g2*65536 + p2.b*256 + 255) AS hit,
        |      ((p2.r - e.pr + 384) % 256) - 128 AS vr,
        |      ((p2.g2 - e.pg + 384) % 256) - 128 AS vg,
        |      ((p2.b - e.pb + 384) % 256) - 128 AS vb
        |    FROM enc e JOIN px p2 ON p2.id = e.id AND p2.i = e.i
        |    WHERE e.i < e.npx)),
        |fin AS (
        |  SELECT e.id, e.ops_run, e.ops_index, e.ops_diff, e.ops_luma, e.ops_rgb
        |  FROM enc e WHERE e.i = e.npx)
        |SELECT g.source,
        |  CAST(COUNT(*) AS BIGINT) AS n_assets,
        |  CAST(SUM(18*g.hgt) AS BIGINT) AS raw_bytes,
        |  CAST(SUM(6*g.hgt) AS BIGINT) AS n_pixels,
        |  CAST(SUM(f.ops_run) AS BIGINT) AS ops_run,
        |  CAST(SUM(f.ops_index) AS BIGINT) AS ops_index,
        |  CAST(SUM(f.ops_diff) AS BIGINT) AS ops_diff,
        |  CAST(SUM(f.ops_luma) AS BIGINT) AS ops_luma,
        |  CAST(SUM(f.ops_rgb) AS BIGINT) AS ops_rgb,
        |  CAST(0 AS BIGINT) AS ops_rgba,
        |  CAST(22*COUNT(*) + SUM(f.ops_run) + SUM(f.ops_index) + SUM(f.ops_diff)
        |    + 2*SUM(f.ops_luma) + 4*SUM(f.ops_rgb) AS BIGINT) AS qoi_bytes,
        |  CAST((22*COUNT(*) + SUM(f.ops_run) + SUM(f.ops_index) + SUM(f.ops_diff)
        |    + 2*SUM(f.ops_luma) + 4*SUM(f.ops_rgb)) * 1000000
        |    // SUM(18*g.hgt) AS BIGINT) AS compression_micro
        |FROM fin f JOIN g ON g.id = f.id
        |GROUP BY g.source""".stripMargin,
    "q262_image_dhash" ->
      s"""WITH ${dhashOracleCtes(
        """SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
          |            FROM documents WHERE doc_id < 150""".stripMargin)}
         |SELECT asset_id, dhash_lo, dhash_hi FROM dh""".stripMargin,
    // the oracle verifies the LOSSLESS band join with an ALL-PAIRS scan
    // over the 128-bit fingerprint: at hamming <= 6 < 8 bands, pigeonhole
    // makes the sets provably equal
    "q263_dhash_near_dup" ->
      s"""WITH ${dhash128OracleCtes(
        """SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
          |            FROM documents WHERE doc_id < 150
          |            UNION ALL
          |            SELECT doc_id + 1000000, CAST(text || repeat(' ', 9) AS BLOB)
          |            FROM documents WHERE doc_id < 150""".stripMargin)}
         |SELECT h1.asset_id AS asset_a, h2.asset_id AS asset_b,
         |       CAST(bit_count(xor(h1.d0, h2.d0)) + bit_count(xor(h1.d1, h2.d1)) +
         |            bit_count(xor(h1.d2, h2.d2)) + bit_count(xor(h1.d3, h2.d3))
         |            AS BIGINT) AS hamming
         |FROM dh h1 JOIN dh h2 ON h1.asset_id < h2.asset_id
         |WHERE bit_count(xor(h1.d0, h2.d0)) + bit_count(xor(h1.d1, h2.d1)) +
         |      bit_count(xor(h1.d2, h2.d2)) + bit_count(xor(h1.d3, h2.d3))
         |      <= 6""".stripMargin,
    "q264_audio_fingerprint" ->
      s"""WITH ${audioFpOracleCtes(
        """SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
          |            FROM documents WHERE doc_id < 200""".stripMargin)}
         |SELECT asset_id, fp_lo, fp_hi FROM fp""".stripMargin,
    // like q263: all-pairs oracle over the 128-bit fingerprint vs the
    // engine's lossless band join
    "q265_audio_near_dup" ->
      s"""WITH ${audioFp128OracleCtes(
        """SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
          |            FROM documents WHERE doc_id < 200
          |            UNION ALL
          |            SELECT doc_id + 1000000,
          |                   CAST(concat(substr(text, 1, 100), '~',
          |                               substr(text, 102)) AS BLOB)
          |            FROM documents WHERE doc_id < 200""".stripMargin)}
         |SELECT f1.asset_id AS asset_a, f2.asset_id AS asset_b,
         |       CAST(bit_count(xor(f1.f0, f2.f0)) + bit_count(xor(f1.f1, f2.f1)) +
         |            bit_count(xor(f1.f2, f2.f2)) + bit_count(xor(f1.f3, f2.f3))
         |            AS BIGINT) AS hamming
         |FROM fp f1 JOIN fp f2 ON f1.asset_id < f2.asset_id
         |WHERE bit_count(xor(f1.f0, f2.f0)) + bit_count(xor(f1.f1, f2.f1)) +
         |      bit_count(xor(f1.f2, f2.f2)) + bit_count(xor(f1.f3, f2.f3))
         |      <= 6""".stripMargin,
    "q266_y4m_frames" ->
      s"""WITH ${y4mOracleCtes("doc_id < 150")}
         |SELECT asset_id, TRUE AS is_valid, CAST(fr AS BIGINT) AS frame_idx,
         |       TRUE AS marker_ok, CAST(sum_y AS BIGINT) AS sum_y,
         |       CAST(mean_milli AS BIGINT) AS mean_y_milli
         |FROM m""".stripMargin,
    "q267_scene_cuts" ->
      s"""WITH ${y4mOracleCtes("doc_id < 150")},
         |d AS (SELECT asset_id, fr,
         |             abs(mean_milli - LAG(mean_milli) OVER
         |               (PARTITION BY asset_id ORDER BY fr)) AS delta
         |      FROM m)
         |SELECT asset_id, CAST(fr AS BIGINT) AS frame_idx,
         |       CAST(delta AS BIGINT) AS delta_milli
         |FROM d WHERE delta >= 5000""".stripMargin,
    // q268's oracle never runs the codec (the q260 discipline): PNG
    // encode∘decode is pixel-identity, so the expected stats come
    // straight from the raw payload (RGB triplets, width 6 ⇒ 18
    // bytes/row, tail dropped)
    "q268_png_stats" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 130),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 18 AS hgt
        |      FROM src WHERE octet_length(p) // 18 >= 1),
        |px AS (SELECT asset_id, hgt, h, unnest(range(0, hgt * 6)) AS i FROM g),
        |c AS (SELECT asset_id, hgt,
        |        CAST(('0x'||substr(h, CAST(6*i+1 AS BIGINT), 2)) AS BIGINT) AS rd,
        |        CAST(('0x'||substr(h, CAST(6*i+3 AS BIGINT), 2)) AS BIGINT) AS gr,
        |        CAST(('0x'||substr(h, CAST(6*i+5 AS BIGINT), 2)) AS BIGINT) AS bl
        |      FROM px)
        |SELECT asset_id, TRUE AS is_valid, CAST(6 AS BIGINT) AS width,
        |       CAST(hgt AS BIGINT) AS height, CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(rd) AS BIGINT) AS sum_r, CAST(SUM(gr) AS BIGINT) AS sum_g,
        |       CAST(SUM(bl) AS BIGINT) AS sum_b,
        |       CAST(SUM(299*rd + 587*gr + 114*bl) // COUNT(*) AS BIGINT)
        |         AS mean_luma_milli
        |FROM c GROUP BY asset_id, hgt""".stripMargin,
    // palette replay (q331): pixels are indices; the three channel maps
    // (i, 255-i, 7i mod 256) replay in SQL, and the row-weighted sum
    // collapses to y*(255 + (7v mod 256)) because r+g = 255 by the rule
    "q331_png_palette" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 130),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
        |      FROM src WHERE octet_length(p) // 40 >= 1),
        |c AS (SELECT asset_id, hgt, i // 40 AS y,
        |        CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT) AS v
        |      FROM (SELECT asset_id, hgt, h,
        |              unnest(range(0, hgt * 40)) AS i FROM g))
        |SELECT asset_id, TRUE AS is_valid, CAST(40 AS BIGINT) AS width,
        |       CAST(hgt AS BIGINT) AS height,
        |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(v) AS BIGINT) AS sum_r,
        |       CAST(SUM(255 - v) AS BIGINT) AS sum_g,
        |       CAST(SUM((7 * v) % 256) AS BIGINT) AS sum_b,
        |       CAST(SUM(299*v + 587*(255 - v) + 114*((7*v) % 256))
        |            // COUNT(*) AS BIGINT) AS mean_luma_milli,
        |       CAST(SUM(y * (255 + (7*v) % 256)) AS BIGINT) AS sum_rowv
        |FROM c GROUP BY asset_id, hgt""".stripMargin,
    // 4-bit palette replay (q344): index = b mod 16, palette maps as
    // q331 (for i < 16, (7i) mod 256 = 7i); x/y off the raster index
    "q344_png_pal4" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 130),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
        |      FROM src WHERE octet_length(p) // 40 >= 1),
        |c AS (SELECT asset_id, hgt, i // 40 AS y, i % 40 AS x,
        |        CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
        |          % 16 AS v
        |      FROM (SELECT asset_id, hgt, h,
        |              unnest(range(0, hgt * 40)) AS i FROM g))
        |SELECT asset_id, TRUE AS is_valid, CAST(40 AS BIGINT) AS width,
        |       CAST(hgt AS BIGINT) AS height,
        |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(v) AS BIGINT) AS sum_r,
        |       CAST(SUM(255 - v) AS BIGINT) AS sum_g,
        |       CAST(SUM(7 * v) AS BIGINT) AS sum_b,
        |       CAST(SUM(299*v + 587*(255 - v) + 114*7*v)
        |            // COUNT(*) AS BIGINT) AS mean_luma_milli,
        |       CAST(SUM(y * (255 + 7*v)) AS BIGINT) AS sum_rowv,
        |       CAST(SUM(x * (255 + 7*v)) AS BIGINT) AS sum_colv
        |FROM c GROUP BY asset_id, hgt""".stripMargin,
    // bilevel replay (q345): pixel = b mod 2, r = g = b = v
    "q345_png_gray1" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 130),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
        |      FROM src WHERE octet_length(p) // 40 >= 1),
        |c AS (SELECT asset_id, hgt, i // 40 AS y, i % 40 AS x,
        |        CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
        |          % 2 AS v
        |      FROM (SELECT asset_id, hgt, h,
        |              unnest(range(0, hgt * 40)) AS i FROM g))
        |SELECT asset_id, TRUE AS is_valid, CAST(40 AS BIGINT) AS width,
        |       CAST(hgt AS BIGINT) AS height,
        |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(v) AS BIGINT) AS sum_r,
        |       CAST(SUM(1000 * v) // COUNT(*) AS BIGINT) AS mean_luma_milli,
        |       CAST(SUM(y * 3 * v) AS BIGINT) AS sum_rowv,
        |       CAST(SUM(x * 3 * v) AS BIGINT) AS sum_colv
        |FROM c GROUP BY asset_id, hgt""".stripMargin,
    "q332_png_gray" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 130),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
        |      FROM src WHERE octet_length(p) // 40 >= 1),
        |c AS (SELECT asset_id, hgt, i // 40 AS y, i % 40 AS x,
        |        CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT) AS v
        |      FROM (SELECT asset_id, hgt, h,
        |              unnest(range(0, hgt * 40)) AS i FROM g))
        |SELECT asset_id, TRUE AS is_valid, CAST(40 AS BIGINT) AS width,
        |       CAST(hgt AS BIGINT) AS height,
        |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(v) AS BIGINT) AS sum_r,
        |       CAST(SUM(1000 * v) // COUNT(*) AS BIGINT) AS mean_luma_milli,
        |       CAST(SUM(y * 3 * v) AS BIGINT) AS sum_rowv,
        |       CAST(SUM(x * 3 * v) AS BIGINT) AS sum_colv
        |FROM c GROUP BY asset_id, hgt""".stripMargin,
    // RLE8 BMP replay (q341): the q331 palette arithmetic plus the
    // column twin — the wire is compressed and bottom-up, the stats
    // are top-down raster facts
    "q341_bmp_rle8" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 130),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
        |      FROM src WHERE octet_length(p) // 40 >= 1),
        |c AS (SELECT asset_id, hgt, i // 40 AS y, i % 40 AS x,
        |        CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT) AS v
        |      FROM (SELECT asset_id, hgt, h,
        |              unnest(range(0, hgt * 40)) AS i FROM g))
        |SELECT asset_id, TRUE AS is_valid, CAST(40 AS BIGINT) AS width,
        |       CAST(hgt AS BIGINT) AS height,
        |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(v) AS BIGINT) AS sum_r,
        |       CAST(SUM(255 - v) AS BIGINT) AS sum_g,
        |       CAST(SUM((7 * v) % 256) AS BIGINT) AS sum_b,
        |       CAST(SUM(299*v + 587*(255 - v) + 114*((7*v) % 256))
        |            // COUNT(*) AS BIGINT) AS mean_luma_milli,
        |       CAST(SUM(y * (255 + (7*v) % 256)) AS BIGINT) AS sum_rowv,
        |       CAST(SUM(x * (255 + (7*v) % 256)) AS BIGINT) AS sum_colv
        |FROM c GROUP BY asset_id, hgt""".stripMargin,
    // ICO replay (q354): 8x8 members of 64 payload bytes each, PNG on
    // even k / DIB on odd k — same palette rule, rows stacked at 8k+y,
    // transparency = the DIB members' LSBs
    "q354_ico_stats" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 130),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 64 AS nm
        |      FROM src WHERE octet_length(p) // 64 >= 1),
        |c AS (SELECT asset_id, nm, i, i // 64 AS k,
        |        CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
        |          AS v
        |      FROM (SELECT asset_id, nm, h,
        |              unnest(range(0, nm * 64)) AS i FROM g))
        |SELECT asset_id, TRUE AS is_valid,
        |       CAST(nm AS BIGINT) AS n_images,
        |       CAST((nm + 1) // 2 AS BIGINT) AS n_png,
        |       CAST(nm // 2 AS BIGINT) AS n_dib,
        |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(v) AS BIGINT) AS sum_r,
        |       CAST(SUM(255 - v) AS BIGINT) AS sum_g,
        |       CAST(SUM((7*v) % 256) AS BIGINT) AS sum_b,
        |       CAST(SUM((8*k + (i % 64) // 8) * (255 + (7*v) % 256))
        |            AS BIGINT) AS sum_rowv,
        |       CAST(SUM(CASE WHEN k % 2 = 1 THEN v % 2 ELSE 0 END)
        |            AS BIGINT) AS n_transparent
        |FROM c GROUP BY asset_id, nm""".stripMargin,
    // RLE4 replay (q346): index = b mod 16 — q344's arithmetic over
    // the compressed bottom-up wire
    "q346_bmp_rle4" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 130),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
        |      FROM src WHERE octet_length(p) // 40 >= 1),
        |c AS (SELECT asset_id, hgt, i // 40 AS y, i % 40 AS x,
        |        CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
        |          % 16 AS v
        |      FROM (SELECT asset_id, hgt, h,
        |              unnest(range(0, hgt * 40)) AS i FROM g))
        |SELECT asset_id, TRUE AS is_valid, CAST(40 AS BIGINT) AS width,
        |       CAST(hgt AS BIGINT) AS height,
        |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(v) AS BIGINT) AS sum_r,
        |       CAST(SUM(255 - v) AS BIGINT) AS sum_g,
        |       CAST(SUM(7 * v) AS BIGINT) AS sum_b,
        |       CAST(SUM(299*v + 587*(255 - v) + 114*7*v)
        |            // COUNT(*) AS BIGINT) AS mean_luma_milli,
        |       CAST(SUM(y * (255 + 7*v)) AS BIGINT) AS sum_rowv,
        |       CAST(SUM(x * (255 + 7*v)) AS BIGINT) AS sum_colv
        |FROM c GROUP BY asset_id, hgt""".stripMargin,
    // 16-bit gray replay (q338): sample i = 256·b[2i] + b[2i+1]
    // (big-endian pairs), 20 samples per row
    "q338_png_gray16" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 130),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
        |      FROM src WHERE octet_length(p) // 40 >= 1),
        |c AS (SELECT asset_id, hgt, i // 20 AS y, i % 20 AS x,
        |        256 * CAST(('0x'||substr(h, CAST(4*i+1 AS BIGINT), 2))
        |                   AS BIGINT)
        |        + CAST(('0x'||substr(h, CAST(4*i+3 AS BIGINT), 2))
        |               AS BIGINT) AS u
        |      FROM (SELECT asset_id, hgt, h,
        |              unnest(range(0, hgt * 20)) AS i FROM g))
        |SELECT asset_id, TRUE AS is_valid, CAST(20 AS BIGINT) AS width,
        |       CAST(hgt AS BIGINT) AS height,
        |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(u) AS BIGINT) AS sum_r,
        |       CAST(SUM(1000 * u) // COUNT(*) AS BIGINT) AS mean_luma_milli,
        |       CAST(SUM(y * 3 * u) AS BIGINT) AS sum_rowv,
        |       CAST(SUM(x * 3 * u) AS BIGINT) AS sum_colv
        |FROM c GROUP BY asset_id, hgt""".stripMargin,
    // gray+alpha replay (q339): the gray byte is the EVEN byte of each
    // (gray, alpha) pair; alpha never reaches the stats
    "q339_png_graya" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 130),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
        |      FROM src WHERE octet_length(p) // 40 >= 1),
        |c AS (SELECT asset_id, hgt, i // 20 AS y, i % 20 AS x,
        |        CAST(('0x'||substr(h, CAST(4*i+1 AS BIGINT), 2)) AS BIGINT)
        |          AS u
        |      FROM (SELECT asset_id, hgt, h,
        |              unnest(range(0, hgt * 20)) AS i FROM g))
        |SELECT asset_id, TRUE AS is_valid, CAST(20 AS BIGINT) AS width,
        |       CAST(hgt AS BIGINT) AS height,
        |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(u) AS BIGINT) AS sum_r,
        |       CAST(SUM(1000 * u) // COUNT(*) AS BIGINT) AS mean_luma_milli,
        |       CAST(SUM(y * 3 * u) AS BIGINT) AS sum_rowv,
        |       CAST(SUM(x * 3 * u) AS BIGINT) AS sum_colv
        |FROM c GROUP BY asset_id, hgt""".stripMargin,
    // Adam7 replay (q333): channel sums are q268's; the row/col-weighted
    // sums read pixel (x, y) straight off the RASTER payload — the
    // deinterlaced identity a mis-placed pass cannot fake
    "q333_png_adam7" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 130),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 18 AS hgt
        |      FROM src WHERE octet_length(p) // 18 >= 1),
        |px AS (SELECT asset_id, hgt, h, unnest(range(0, hgt * 6)) AS i FROM g),
        |c AS (SELECT asset_id, hgt, i // 6 AS y, i % 6 AS x,
        |        CAST(('0x'||substr(h, CAST(6*i+1 AS BIGINT), 2)) AS BIGINT) AS rd,
        |        CAST(('0x'||substr(h, CAST(6*i+3 AS BIGINT), 2)) AS BIGINT) AS gr,
        |        CAST(('0x'||substr(h, CAST(6*i+5 AS BIGINT), 2)) AS BIGINT) AS bl
        |      FROM px)
        |SELECT asset_id, TRUE AS is_valid, CAST(6 AS BIGINT) AS width,
        |       CAST(hgt AS BIGINT) AS height,
        |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(rd) AS BIGINT) AS sum_r, CAST(SUM(gr) AS BIGINT) AS sum_g,
        |       CAST(SUM(bl) AS BIGINT) AS sum_b,
        |       CAST(SUM(299*rd + 587*gr + 114*bl) // COUNT(*) AS BIGINT)
        |         AS mean_luma_milli,
        |       CAST(SUM(y * (rd + gr + bl)) AS BIGINT) AS sum_rowv,
        |       CAST(SUM(x * (rd + gr + bl)) AS BIGINT) AS sum_colv,
        |       CAST(1 AS BIGINT) AS interlaced
        |FROM c GROUP BY asset_id, hgt""".stripMargin,
    // the scale twins replay their parents' oracles with no doc cap
    "q269_dhash_scale" ->
      s"""WITH ${dhash128OracleCtes(
        """SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
          |            FROM documents
          |            UNION ALL
          |            SELECT doc_id + 1000000, CAST(text || repeat(' ', 9) AS BLOB)
          |            FROM documents""".stripMargin)}
         |SELECT h1.asset_id AS asset_a, h2.asset_id AS asset_b,
         |       CAST(bit_count(xor(h1.d0, h2.d0)) + bit_count(xor(h1.d1, h2.d1)) +
         |            bit_count(xor(h1.d2, h2.d2)) + bit_count(xor(h1.d3, h2.d3))
         |            AS BIGINT) AS hamming
         |FROM dh h1 JOIN dh h2 ON h1.asset_id < h2.asset_id
         |WHERE bit_count(xor(h1.d0, h2.d0)) + bit_count(xor(h1.d1, h2.d1)) +
         |      bit_count(xor(h1.d2, h2.d2)) + bit_count(xor(h1.d3, h2.d3))
         |      <= 6""".stripMargin,
    // q271's oracle never runs the codec (the q260/q268 discipline):
    // lossless-JPEG encode∘decode is pixel-identity, and the samples ARE
    // the payload bytes (grayscale), so the expected stats come straight
    // from the 40·⌊len/40⌋ whole-row prefix
    "q271_jpegll_stats" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 140),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 40 AS hgt
        |      FROM src WHERE octet_length(p) // 40 >= 1),
        |px AS (SELECT asset_id, hgt, h, unnest(range(0, hgt * 40)) AS i FROM g),
        |c AS (SELECT asset_id, hgt,
        |        CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT) AS v
        |      FROM px)
        |SELECT asset_id, TRUE AS is_valid, CAST(40 AS BIGINT) AS width,
        |       CAST(hgt AS BIGINT) AS height, CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(v) AS BIGINT) AS sum_v,
        |       CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS mean_v_milli,
        |       CAST(1 AS BIGINT) AS predictor
        |FROM c GROUP BY asset_id, hgt""".stripMargin,
    // q272's oracle never runs the codec: it replays the deterministic
    // integer pipeline (shift → fixed-point FDCT → round-half-up
    // quantize by the Annex-K table → dequantize → fixed-point IDCT →
    // clamp) per 8x8 block straight from the raw payload bytes. width 8
    // ⇒ one block per 64-byte block row, so pixel (b, y, x) IS payload
    // byte 64b + 8y + x. Floor-based half-up division uses the dkFloorDiv
    // pattern (DuckDB // truncates; subtract the sign-safe mod first).
    // Basis/quant constants come from JpegDctCodec — one source of truth.
    "q272_jpegdct_stats" -> jpegGrayOracleSql,
    // q279: PROGRESSIVE (SOF2) encoding reorders the coefficient STREAM
    // across six scans (spectral selection + successive approximation)
    // but codes the SAME quantized coefficients, so the decoded samples
    // — and this replay — are q272's verbatim: hash-equality proves the
    // whole progressive scan machinery (EOBRUN, refinement correction
    // bits, point transforms) is bijective on the coefficient plane
    "q279_jpegprog_stats" -> jpegGrayOracleSql,
    // the whole-corpus DCT scale twin replays the same pipeline, no cap
    "q281_jpegdct_scale" -> jpegGrayOracleSqlFor(""),
    // q282: the same block replay truncated to whole 2-block frames —
    // per-frame JPEG framing cancels under decode∘encode, so MJPEG-AVI
    // container stats are raw-payload block arithmetic (see mjpegAviOracleSql)
    "q282_mjpeg_avi_stats" -> mjpegAviOracleSql,
    "q284_mjpeg_scale" -> mjpegAviOracleSqlFor(""),
    "q285_avi_av_stats" -> aviAvOracleSql,
    "q286_gif_stats" -> gifOracleSqlFor("WHERE doc_id < 140"),
    "q287_gif_scale" -> gifOracleSqlFor(""),
    // q297/q298 share one oracle verbatim: byte order + compression
    // change the wire, never the pixels
    "q299_flac_stats" -> flacOracleSql,
    // q302 shares q299's oracle verbatim: the LPC-vs-fixed subframe
    // choice changes the wire, never the PCM
    "q302_flac_lpc" -> flacOracleSql,
    "q305_flac_stereo" -> flacStereoOracleSql,
    // q311: 3-byte LE samples, the 24-bit audio-lake width
    "q311_flac_24bit" -> flac24OracleSql,
    // q314: the variable blocking strategy — same PCM, alternation
    // frame arithmetic
    "q314_flac_varblock" -> flacVarBlockOracleSql,
    "q300_tiff_scale" -> tiffOracleSqlFor(""),
    "q301_flac_scale" -> flacOracleSqlFor(""),
    "q297_tiff_stats" -> tiffOracleSql,
    // q347/q348: RGB — raw/II and LZW+predictor/MM share one oracle
    "q347_tiff_rgb" -> tiffRgbOracleSql,
    "q348_tiff_rgb_pred" -> tiffRgbOracleSql,
    "q298_tiff_packbits" -> tiffOracleSql,
    "q336_tiff_tiled" -> tiffTiledOracleSql,
    "q304_tiff_lzw" -> tiffOracleSql,
    // q308: the Predictor-2 wire differences rows ahead of LZW and the
    // decoder undoes it — four wires, one pixel identity, one oracle
    "q308_tiff_predictor2" -> tiffOracleSql,
    // q320: bit-reversed LZW bytes (FillOrder 2) — the fifth TIFF wire
    // on the same pixel identity
    "q320_tiff_fillorder2" -> tiffOracleSql,
    "q307_tiff_multipage" -> tiffMultipageOracleSql,
    "q294_gif_pal4" -> gifPal4OracleSql,
    "q295_gif_interlaced" -> gifInterlacedOracleSql,
    // q312: sub-screen frames at nonzero offsets — screen-row/column
    // weighted sums pin the placement
    "q312_gif_partial" -> gifPartialOracleSql,
    // q321: disposal-aware compositing — per-cell last-covering-frame
    // replay of the final screen
    "q321_gif_composite" -> gifCompositeOracleSql,
    "q296_gif_anim" -> gifAnimOracleSql,
    "q306_gif_lct" -> gifLctOracleSql,
    // q290/q291 share one oracle verbatim (plain vs record-gzip wire);
    // q292 is the per-record body-extraction fan-out; q293 is q288's
    // whole-corpus scale twin
    "q290_warc_http_stats" -> warcHttpOracleSql,
    "q291_warc_httpgz_stats" -> warcHttpOracleSql,
    // q303: chunked transfer coding changes the wire, never the
    // documents — same oracle verbatim
    "q303_warc_chunked" -> warcHttpOracleSql,
    // q309: the mixed-protocol crawl — opaque non-HTTP responses count
    // as records, never as HTTP stats, never as findings
    "q309_warc_mixed" -> warcMixedOracleSql,
    // q310: crawl-to-corpus — 200-status bodies re-cleaned from raw
    // text slices with the q149 regex chain; q313 is its whole-corpus
    // scale twin
    "q310_warc_wet" -> warcWetOracleSql,
    "q327_warc_wat" -> warcWatOracleSql,
    "q313_wet_scale" -> warcWetOracleSqlFor(""),
    "q328_wat_scale" -> warcWatOracleSqlFor(""),
    // q315/q316 share one oracle verbatim (plain vs .tar.gz wire);
    // q317 is the shard-to-samples member fan-out
    "q315_tar_stats" -> tarOracleSql,
    "q316_tar_gz" -> tarOracleSql,
    // q323: q316's whole-corpus scale twin
    "q323_tar_scale" -> tarOracleSqlFor(""),
    // q355: the lz4 wire's whole-corpus twin
    "q355_lz4_scale" -> tarOracleSqlFor(""),
    "q317_tar_members" -> tarMembersOracleSql,
    // q324: pax path overrides — the 104-char names only an
    // override-applying decoder reproduces
    "q324_tar_pax" -> tarPaxOracleSql,
    "q329_tar_index" -> tarIndexOracleSql,
    "q340_tar_bgzf" -> tarOracleSql,
    // q342: the multi-member (pigz-style) gzip series — fifth tar wire
    "q342_tar_mgz" -> tarOracleSql,
    // q352: the snappy-framed wire — sixth tar wire, one identity
    "q352_tar_snappy" -> tarOracleSql,
    // q353: the lz4-framed wire — seventh tar wire, one identity
    "q353_tar_lz4" -> tarOracleSql,
    // q357: full-header gzip — metadata changes the wire, not the shard
    "q357_tar_gzname" -> tarOracleSql,
    // q318/q319: ZIP stored + deflate — the same 100-byte member
    // arithmetic, so four wires share ONE oracle verbatim
    "q318_zip_stats" -> tarOracleSql,
    "q319_zip_deflate" -> tarOracleSql,
    "q325_zip64" -> tarOracleSql,
    "q326_zip_stream" -> tarOracleSql,
    // q343: zip64+descriptor combined — the seventh wire, one identity
    "q343_zip64_stream" -> tarOracleSql,
    "q330_zip_members" -> zipMembersOracleSql,
    // q358: UTF-8 names — 26-byte encodings shift every offset
    "q358_zip_utf8" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 140),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 100 AS nm
        |      FROM src WHERE octet_length(p) // 100 >= 1),
        |bv AS (SELECT asset_id, i // 100 AS member_idx,
        |         CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2)) AS BIGINT)
        |           AS v
        |       FROM (SELECT asset_id, h,
        |               unnest(range(0, nm * 100)) AS i FROM g))
        |SELECT asset_id, CAST(member_idx AS BIGINT) AS member_idx,
        |       'документ-' || printf('%05d', member_idx) || '.txt' AS name,
        |       CAST(100 AS BIGINT) AS size,
        |       CAST(SUM(v) AS BIGINT) AS member_sum,
        |       CAST(member_idx * 156 + 56 AS BIGINT) AS data_offset,
        |       CAST(100 AS BIGINT) AS comp_size,
        |       CAST(0 AS INTEGER) AS method
        |FROM bv GROUP BY asset_id, member_idx""".stripMargin,
    // q322: shard-to-samples ingest — members re-cleaned from raw text
    // slices with the q149 regex chain
    "q322_tar_ingest" -> tarIngestOracleSql,
    "q337_zip_ingest" -> tarIngestOracleSql,
    "q292_warc_http_records" -> warcHttpRecordsOracleSql,
    "q293_warc_scale" -> warcOracleSqlFor(""),
    // q288/q289 share one oracle verbatim: per-record gzip changes the
    // wire, never the records
    "q288_warc_stats" -> warcOracleSql,
    "q289_warcgz_stats" -> warcOracleSql,
    // q280's oracle derives the EXPECTED metadata from the payload's
    // first bytes (the encoder's deterministic rule) — the engine had to
    // parse the same values back out of the APP0/APP1 segments it wrote
    "q280_jpeg_metadata" ->
      """SELECT doc_id AS asset_id, TRUE AS is_valid,
        |       1 + CAST(('0x'||substr(hex(CAST(text AS BLOB)), 1, 2)) AS BIGINT) % 8
        |         AS exif_orientation,
        |       CAST(('0x'||substr(hex(CAST(text AS BLOB)), 3, 2)) AS BIGINT) % 3
        |         AS jfif_units,
        |       1 + CAST(('0x'||substr(hex(CAST(text AS BLOB)), 5, 2)) AS BIGINT)
        |         AS jfif_xdensity,
        |       1 + CAST(('0x'||substr(hex(CAST(text AS BLOB)), 7, 2)) AS BIGINT)
        |         AS jfif_ydensity,
        |       CAST(64 * (octet_length(CAST(text AS BLOB)) // 64) AS BIGINT)
        |         AS n_pixels
        |FROM documents
        |WHERE doc_id < 140 AND octet_length(CAST(text AS BLOB)) // 64 >= 1
        |  AND octet_length(CAST(text AS BLOB)) < 524288""".stripMargin,
    "q270_y4m_scale" ->
      s"""WITH ${y4mOracleCtes("TRUE")}
         |SELECT asset_id, TRUE AS is_valid, CAST(fr AS BIGINT) AS frame_idx,
         |       TRUE AS marker_ok, CAST(sum_y AS BIGINT) AS sum_y,
         |       CAST(mean_milli AS BIGINT) AS mean_y_milli
         |FROM m""".stripMargin,
    // q275's oracle: the q272 integer-pipeline replay with per-component
    // quant-table routing — the block-sequential MCU layout means block b
    // is luma iff b mod 6 < 4 (Cb at 4, Cr at 5), so no spatial
    // arithmetic is needed; per-component sums aggregate by that route
    "q275_jpeg420_stats" -> jpegYccOracleSql(6, 4, 16, 16, 4096L * 384),
    // restarts change the stream, not the samples: the SAME replay
    "q276_jpeg420_restart_stats" -> jpegYccOracleSql(6, 4, 16, 16, 4096L * 384),
    // the 4:2:2 / 4:4:4 shapes reuse the SAME parametrized replay — only
    // the blocks-per-MCU routing and fixture geometry differ
    "q277_jpeg422_stats" -> jpegYccOracleSql(4, 2, 16, 8, 8192L * 256),
    "q278_jpeg444_stats" -> jpegYccOracleSql(3, 1, 8, 8, 8192L * 192),
    // 4:1:1 (luma 4x1): six blocks per MCU like 4:2:0, but one MCU row
    // is 32 px wide and 8 px tall — only the geometry params change
    "q283_jpeg411_stats" -> jpegYccOracleSql(6, 4, 32, 8, 8192L * 384),
    // the scale twins replay their parents' oracles with no doc cap
    "q273_audio_neardup_scale" ->
      s"""WITH ${audioFp128OracleCtes(
        """SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
          |            FROM documents
          |            UNION ALL
          |            SELECT doc_id + 1000000,
          |                   CAST(concat(substr(text, 1, 100), '~',
          |                               substr(text, 102)) AS BLOB)
          |            FROM documents""".stripMargin)}
         |SELECT f1.asset_id AS asset_a, f2.asset_id AS asset_b,
         |       CAST(bit_count(xor(f1.f0, f2.f0)) + bit_count(xor(f1.f1, f2.f1)) +
         |            bit_count(xor(f1.f2, f2.f2)) + bit_count(xor(f1.f3, f2.f3))
         |            AS BIGINT) AS hamming
         |FROM fp f1 JOIN fp f2 ON f1.asset_id < f2.asset_id
         |WHERE bit_count(xor(f1.f0, f2.f0)) + bit_count(xor(f1.f1, f2.f1)) +
         |      bit_count(xor(f1.f2, f2.f2)) + bit_count(xor(f1.f3, f2.f3))
         |      <= 6""".stripMargin,
    "q274_png_scale" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 18 AS hgt
        |      FROM src WHERE octet_length(p) // 18 >= 1),
        |px AS (SELECT asset_id, hgt, h, unnest(range(0, hgt * 6)) AS i FROM g),
        |c AS (SELECT asset_id, hgt,
        |        CAST(('0x'||substr(h, CAST(6*i+1 AS BIGINT), 2)) AS BIGINT) AS rd,
        |        CAST(('0x'||substr(h, CAST(6*i+3 AS BIGINT), 2)) AS BIGINT) AS gr,
        |        CAST(('0x'||substr(h, CAST(6*i+5 AS BIGINT), 2)) AS BIGINT) AS bl
        |      FROM px)
        |SELECT asset_id, TRUE AS is_valid, CAST(6 AS BIGINT) AS width,
        |       CAST(hgt AS BIGINT) AS height, CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(rd) AS BIGINT) AS sum_r, CAST(SUM(gr) AS BIGINT) AS sum_g,
        |       CAST(SUM(bl) AS BIGINT) AS sum_b,
        |       CAST(SUM(299*rd + 587*gr + 114*bl) // COUNT(*) AS BIGINT)
        |         AS mean_luma_milli
        |FROM c GROUP BY asset_id, hgt""".stripMargin,
    "q236_change_point" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 3600000000000 AS bucket
        |           FROM events),
        |c AS (SELECT event_type, bucket, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |w AS (SELECT event_type, bucket, n,
        |             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket) AS r,
        |             SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
        |             COUNT(*) OVER (PARTITION BY event_type) AS t,
        |             SUM(n) OVER (PARTITION BY event_type) AS tot
        |      FROM c),
        |d AS (SELECT event_type, bucket, r, t, tot,
        |             abs(s * t - r * tot) AS d_num
        |      FROM w WHERE r < t),
        |p AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |               ORDER BY d_num DESC, r ASC) AS rk FROM d)
        |SELECT event_type, CAST(t AS BIGINT) AS n_buckets,
        |       CAST(tot AS BIGINT) AS n_events, CAST(r AS BIGINT) AS split_pos,
        |       CAST(bucket AS BIGINT) AS split_bucket, CAST(d_num AS BIGINT) AS d_num
        |FROM p WHERE rk = 1""".stripMargin,
    "q237_association_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |               FROM lineitem
        |               WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sized AS (SELECT basket, item FROM (
        |            SELECT *, COUNT(*) OVER (PARTITION BY basket) AS bsize FROM items)
        |          WHERE bsize <= 1000),
        |ic AS (SELECT item, COUNT(*) AS n_item FROM sized GROUP BY 1),
        |nb AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM sized),
        |p AS (SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS support
        |      FROM sized a JOIN sized b ON a.basket = b.basket AND a.item < b.item
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |dir AS (SELECT item_a AS antecedent, item_b AS consequent, support FROM p
        |        UNION ALL
        |        SELECT item_b, item_a, support FROM p),
        |r AS (SELECT d.antecedent, d.consequent, CAST(d.support AS BIGINT) AS support,
        |             CAST(ia.n_item AS BIGINT) AS n_ant,
        |             CAST(ic2.n_item AS BIGINT) AS n_cons, n_baskets,
        |             CAST((d.support * 1048576) // ia.n_item AS BIGINT) AS confidence_fp,
        |             CAST((CAST(d.support AS HUGEINT) * n_baskets * 1048576)
        |                  // (CAST(ia.n_item AS HUGEINT) * ic2.n_item) AS BIGINT) AS lift_fp
        |      FROM dir d JOIN ic ia ON ia.item = d.antecedent
        |                 JOIN ic ic2 ON ic2.item = d.consequent
        |      CROSS JOIN nb),
        |rk AS (SELECT *, ROW_NUMBER() OVER (
        |         ORDER BY lift_fp DESC, antecedent ASC, consequent ASC) AS rn FROM r)
        |SELECT antecedent, consequent, support, n_ant, n_cons, n_baskets,
        |       confidence_fp, lift_fp
        |FROM rk WHERE rn <= 50""".stripMargin,
    "q229_cosine_sweep" -> {
      val h = dkHash("CAST(vec_id AS VARCHAR)", 7)
      s"""WITH sub AS (SELECT vec_id, embedding FROM embeddings
         |             WHERE $h % 100 < 20
         |               AND list_sum(list_transform(embedding,
         |                     x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) > 0),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${dkCosine("a", "b")} AS cos
         |      FROM sub a JOIN sub b ON a.vec_id < b.vec_id),
         |x AS (SELECT LEAST(GREATEST(CAST(floor((cos + 1.0) * 10.0) AS BIGINT), 0), 19) AS bin,
         |             id_a, id_b
         |      FROM p),
         |e AS (SELECT bin, unnest([id_a, id_b]) AS id FROM x),
         |c AS (SELECT bin, COUNT(*) // 2 AS n_pairs, COUNT(DISTINCT id) AS n_docs
         |      FROM e GROUP BY 1),
         |fr AS (SELECT unnest(range(0, 20)) AS bin)
         |SELECT CAST(fr.bin AS BIGINT) AS bin,
         |       CAST((fr.bin * 2 * 1048576) // 20 - 1048576 AS BIGINT) AS thr_lo_fp,
         |       CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
         |       CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs
         |FROM fr LEFT JOIN c USING (bin)""".stripMargin
    },
    "q43_ann_ivf" -> ivfAnnOracle,
    "q54_ann_ivf_trained" -> ivfTrainedOracle,
    "q69_pq_ann" -> pqOracle,
    "q226_pq_curve" -> pqCurveOracle,
    "q227_collocations" ->
      """WITH toks AS (SELECT string_split(lower(text), ' ') AS l FROM documents),
        |u AS (SELECT unnest(l) AS term FROM toks),
        |uc AS (SELECT term, COUNT(*) AS c FROM u GROUP BY 1),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uc),
        |b AS (SELECT unnest(list_transform(generate_series(1, len(l) - 1),
        |                    i -> l[i] || ' ' || l[i + 1])) AS bigram
        |      FROM toks WHERE len(l) >= 2),
        |bc AS (SELECT bigram, COUNT(*) AS c_ab FROM b GROUP BY 1),
        |bb AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bigrams FROM bc),
        |p AS (SELECT string_split(bigram, ' ')[1] AS term_a,
        |             string_split(bigram, ' ')[2] AS term_b, c_ab
        |      FROM bc WHERE c_ab >= 5),
        |j AS (SELECT p.term_a, p.term_b, p.c_ab, ua.c AS c_a, ub.c AS c_b
        |      FROM p JOIN uc ua ON ua.term = p.term_a
        |             JOIN uc ub ON ub.term = p.term_b),
        |s AS (SELECT term_a, term_b, c_ab, c_a, c_b,
        |        CAST((CAST(c_ab AS HUGEINT) * n_tokens * n_tokens * 1048576)
        |             // (CAST(n_bigrams AS HUGEINT) * c_a * c_b) AS BIGINT) AS lift_fp
        |      FROM j CROSS JOIN n CROSS JOIN bb),
        |r AS (SELECT *, ROW_NUMBER() OVER (
        |        ORDER BY lift_fp DESC, term_a ASC, term_b ASC) AS rk FROM s)
        |SELECT term_a, term_b, CAST(c_ab AS BIGINT) AS c_ab,
        |       CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b, lift_fp
        |FROM r WHERE rk <= 20""".stripMargin,
    "q50_balanced_sample" -> {
      val langs = graft.ext.TextAnalysis.langMarkers.map(_._1)
      val scoreDefs = langs.map(l => s"${dkLangScore(l)} AS score_$l").mkString(",\n  ")
      val best = langs.map(l => s"score_$l").mkString("GREATEST(", ", ", ")")
      val cases = langs.map(l => s"WHEN score_$l = best AND best > 0 THEN '$l'").mkString(" ")
      s"""WITH scored AS (SELECT doc_id, $scoreDefs, $best AS best FROM documents),
         |d AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang FROM scored),
         |counts AS (SELECT lang, COUNT(*) AS n FROM d GROUP BY 1)
         |SELECT d.doc_id, d.lang FROM d JOIN counts USING (lang)
         |WHERE (${dkHash("CAST(d.doc_id AS VARCHAR)", 0)} % 1000000)
         |      < LEAST(1.0, 100.0 / n) * 1000000""".stripMargin
    },
    "q49_best_docs_per_lang" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      val langs = graft.ext.TextAnalysis.langMarkers.map(_._1)
      val scoreDefs = langs.map(l => s"${dkLangScore(l)} AS score_$l").mkString(",\n  ")
      val best = langs.map(l => s"score_$l").mkString("GREATEST(", ", ", ")")
      val cases = langs.map(l => s"WHEN score_$l = best AND best > 0 THEN '$l'").mkString(" ")
      s"""WITH scored AS (SELECT doc_id,
         |  LEAST(GREATEST(
         |    (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |    LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |    LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0) AS quality_score,
         |  $scoreDefs,
         |  $best AS best
         |FROM documents),
         |lang AS (SELECT doc_id, quality_score,
         |  CASE $cases ELSE 'und' END AS lang_pred FROM scored),
         |ranked AS (SELECT lang_pred, doc_id, quality_score,
         |  ROW_NUMBER() OVER (PARTITION BY lang_pred
         |                     ORDER BY quality_score DESC, doc_id ASC) AS rk
         |FROM lang)
         |SELECT lang_pred, rk, doc_id, round(quality_score, 6) AS quality_score
         |FROM ranked WHERE rk <= 3""".stripMargin
    },
    "q48_corpus_stats" ->
      """WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
        |                  CAST(length(text) AS DOUBLE) AS n_chars
        |           FROM documents)
        |SELECT COUNT(*) AS n_docs,
        |       round(AVG(n_tokens), 6) AS avg_tokens,
        |       round(AVG(n_chars), 6) AS avg_chars,
        |       round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
        |       round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
        |       round(quantile_cont(n_tokens, 0.99), 6) AS p99_tokens
        |FROM t""".stripMargin,
    "q47_range_join" -> {
      val hourNs = 3600L * 1000000000L
      s"""WITH e AS (SELECT event_id, epoch_ns(ts) AS ts_ns FROM events),
         |counts AS (SELECT ts_ns // $hourNs AS hour_bucket, COUNT(*) AS n
         |           FROM e GROUP BY 1),
         |wins AS (SELECT hour_bucket AS win_id,
         |                hour_bucket * $hourNs - ${hourNs / 2} AS win_start,
         |                hour_bucket * $hourNs + ${hourNs * 3 / 2} AS win_end
         |         FROM counts ORDER BY n DESC, hour_bucket ASC LIMIT 5)
         |SELECT e.event_id, w.win_id
         |FROM e JOIN wins w
         |  ON e.ts_ns >= w.win_start AND e.ts_ns < w.win_end""".stripMargin
    },
    "q46_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, MAX(event_id) AS click_id FROM events
        |      WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |       c.click_id AS last_click_id, c.ts AS last_click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts""".stripMargin,
    "q44_dedup_clusters" -> dedupClusterOracle,
    "q41_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
        |FROM documents""".stripMargin,
    "q42_rolling_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ' '),
        |        t -> CAST(('0x'||substr(md5(t||'#0'),1,15)) AS BIGINT) % 1000000007)),
        |    (a, x) -> (a * 1000003 + x) % 1000000007) AS rolling_hash
        |FROM documents""".stripMargin,
    "q17_text_stats" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      s"""SELECT doc_id,
         |  CAST($nt AS BIGINT) AS n_tokens,
         |  CAST(length(text) - ($nt - 1) AS DOUBLE) / $nt AS avg_token_len,
         |  CAST($alpha AS DOUBLE) / length(text) AS alpha_ratio,
         |  $dkAllStops / $nt AS stopword_ratio,
         |  LEAST(GREATEST(
         |    (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |    LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |    LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0) AS quality_score
         |FROM documents""".stripMargin
    },
    "q18_langid" -> {
      val langs = graft.ext.TextAnalysis.langMarkers.map(_._1)
      val scoreDefs = langs.map(l => s"${dkLangScore(l)} AS score_$l").mkString(",\n  ")
      val best = langs.map(l => s"score_$l").mkString("GREATEST(", ", ", ")")
      val cases = langs.map(l => s"WHEN score_$l = best AND best > 0 THEN '$l'").mkString(" ")
      s"""SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         |  CASE $cases ELSE 'und' END AS lang_pred
         |FROM (SELECT doc_id,
         |  $scoreDefs,
         |  $best AS best
         |FROM documents)""".stripMargin
    },
    "q19_fingerprint" ->
      "SELECT doc_id, md5(regexp_replace(lower(text),'[^a-z0-9]','','g')) AS fp FROM documents",
    "q62_repetition_filter" -> repetitionOracle,
    "q86_corpus_freeze" ->
      s"""WITH rep AS ($repetitionOracle),
         |kept AS (SELECT d.doc_id, d.text, d.lang FROM documents d
         |         JOIN rep USING (doc_id) WHERE rep.keep),
         |dd AS (SELECT doc_id, text, lang,
         |              ROW_NUMBER() OVER (PARTITION BY md5(text)
         |                ORDER BY doc_id) AS rn
         |       FROM kept),
         |sp AS (SELECT lang, length(text) AS nc,
         |  CASE WHEN ${dkHash("CAST(doc_id AS VARCHAR)", 0)} % 100 < 80 THEN 'train'
         |       WHEN ${dkHash("CAST(doc_id AS VARCHAR)", 0)} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM dd WHERE rn = 1)
         |SELECT split, lang, COUNT(*) AS n_docs,
         |       CAST(SUM(nc) AS BIGINT) AS total_chars
         |FROM sp GROUP BY 1, 2""".stripMargin,
    "q56_sql_text" -> {
      val langs = graft.ext.TextAnalysis.langMarkers.map(_._1)
      val scoreDefs = langs.map(l => s"${dkLangScore(l)} AS score_$l").mkString(",\n  ")
      val best = langs.map(l => s"score_$l").mkString("GREATEST(", ", ", ")")
      val cases = langs.map(l => s"WHEN score_$l = best AND best > 0 THEN '$l'").mkString(" ")
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      s"""SELECT doc_id,
         |  CASE $cases ELSE 'und' END AS lang_pred,
         |  CAST($nt AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
         |  md5(regexp_replace(lower(text),'[^a-z0-9]','','g')) AS fp,
         |  LEAST(GREATEST(
         |    (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |    LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |    LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0) AS quality_score
         |FROM (SELECT doc_id, text,
         |  $scoreDefs,
         |  $best AS best
         |FROM documents)""".stripMargin
    },
    "q20_minhash_signatures" -> {
      val mins = (0 until 4).map(i => s"MIN(${dkMinhash("hb", i)}) AS mh$i").mkString(",\n  ")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
         |s AS (SELECT doc_id, $dkShingles AS sh FROM t),
         |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
         |hb AS (SELECT doc_id, ${dkHash("shingle", 0)} % ${graft.ext.Dedup.HashP} AS hb FROM e)
         |SELECT doc_id,
         |  $mins
         |FROM hb GROUP BY doc_id""".stripMargin
    },
    "q21_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents WHERE doc_id < 50),
         |s0 AS (SELECT doc_id AS id, $dkShingles AS sh FROM t),
         |s AS (SELECT id, unnest(sh) AS shingle FROM s0),
         |sizes AS (SELECT id, COUNT(*) AS n FROM s GROUP BY id),
         |c AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
         |      FROM s a JOIN s b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2)
         |SELECT id_a, id_b, common, na.n AS n_a, nb.n AS n_b,
         |       CAST(common AS DOUBLE) / (na.n + nb.n - common) AS jaccard
         |FROM c JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b""".stripMargin,
    "q22_cosine_pairs" ->
      s"""SELECT * FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         ROUND(${dkCosine("a", "b")}, 4) AS cosine
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |WHERE cosine >= 0.35""".stripMargin,
    "q52_vocabulary" ->
      """WITH toks AS (SELECT string_split(lower(text), ' ') AS l FROM documents),
        |uni AS (SELECT 1 AS n, unnest(l) AS gram FROM toks),
        |bi AS (SELECT 2 AS n,
        |              unnest(list_transform(generate_series(1, len(l) - 1),
        |                     i -> l[i] || ' ' || l[i + 1])) AS gram
        |       FROM toks WHERE len(l) >= 2),
        |counts AS (SELECT n, gram, COUNT(*) AS count
        |           FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        |           GROUP BY 1, 2),
        |ranked AS (SELECT n, gram, count,
        |                  ROW_NUMBER() OVER (PARTITION BY n
        |                    ORDER BY count DESC, gram ASC) AS rank
        |           FROM counts)
        |SELECT n, gram, count, rank FROM ranked WHERE rank <= 20""".stripMargin,
    "q51_embedding_dedup_clusters" ->
      s"""WITH RECURSIVE np AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |           ROUND(${dkCosine("a", "b")}, 4) AS cosine
         |    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |  WHERE cosine >= 0.35),
         |edges AS (SELECT id_a AS u, id_b AS v FROM np
         |          UNION ALL SELECT id_b, id_a FROM np),
         |nodes AS (SELECT DISTINCT u AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v)
         |SELECT id AS vec_id, MIN(r) AS canonical_id FROM reach GROUP BY id""".stripMargin,
    "q23_cosine_topk" ->
      s"""SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${dkCosine("q", "c")} AS cos,
         |         ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |                            ORDER BY ${dkCosine("q", "c")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10)
         |WHERE rank <= 5""".stripMargin,
    "q24_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q55_interval_join" ->
      """WITH p AS (SELECT event_id AS pid, user_id,
        |             CAST(epoch_us(ts) AS BIGINT) AS tus
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS cid, user_id,
        |             CAST(epoch_us(ts) AS BIGINT) AS tus
        |           FROM events WHERE event_type = 'click')
        |SELECT p.pid AS purchase_id, p.user_id,
        |       COUNT(*) AS n_clicks_30m, MAX(c.cid) AS last_click_id
        |FROM p JOIN c ON c.user_id = p.user_id
        |  AND c.tus >= p.tus - 1800000000 AND c.tus <= p.tus
        |GROUP BY 1, 2""".stripMargin,
    "q138_interval_join_outer" ->
      """WITH p AS (SELECT event_id AS pid, user_id,
        |             CAST(epoch_us(ts) AS BIGINT) AS tus
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS cid, user_id,
        |             CAST(epoch_us(ts) AS BIGINT) AS tus
        |           FROM events WHERE event_type = 'click')
        |SELECT p.pid AS purchase_id, p.user_id,
        |       COUNT(c.cid) AS n_clicks_30m, MAX(c.cid) AS last_click_id
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |  AND c.tus >= p.tus - 1800000000 AND c.tus <= p.tus
        |GROUP BY 1, 2""".stripMargin,
    "q25_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS tus FROM events),
        |w AS (SELECT user_id, event_id, tus,
        |        CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
        |                  OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |                     > 1800000000
        |             THEN 1 ELSE 0 END AS is_new
        |      FROM e),
        |s AS (SELECT user_id, tus,
        |        CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |      FROM w)
        |SELECT user_id, session_idx, MIN(tus) AS session_start_us,
        |       MAX(tus) AS session_end_us, COUNT(*) AS n_events,
        |       MAX(tus) - MIN(tus) AS duration_us
        |FROM s GROUP BY 1, 2""".stripMargin,
    "q26_json_extract" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q27_rollup_report" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "q28_schema_checksums" ->
      """SELECT table_name, md5(canon) AS schema_hash FROM (VALUES
        | ('region','region|r_regionkey:integer:opt,r_name:string:opt'),
        | ('nation','nation|n_nationkey:integer:opt,n_name:string:opt,n_regionkey:integer:opt'),
        | ('customer','customer|c_custkey:bigint:opt,c_name:string:opt,c_nationkey:integer:opt,c_acctbal:double:opt,c_mktsegment:string:opt'),
        | ('supplier','supplier|s_suppkey:bigint:opt,s_name:string:opt,s_nationkey:integer:opt,s_acctbal:double:opt'),
        | ('part','part|p_partkey:bigint:opt,p_name:string:opt,p_brand:string:opt,p_type:string:opt,p_size:integer:opt,p_retailprice:double:opt'),
        | ('orders','orders|o_orderkey:bigint:opt,o_custkey:bigint:opt,o_orderstatus:string:opt,o_totalprice:double:opt,o_orderdate:timestamp:opt,o_orderpriority:string:opt'),
        | ('lineitem','lineitem|l_orderkey:bigint:opt,l_partkey:bigint:opt,l_suppkey:bigint:opt,l_linenumber:integer:opt,l_quantity:double:opt,l_extendedprice:double:opt,l_discount:double:opt,l_tax:double:opt,l_returnflag:string:opt,l_linestatus:string:opt,l_shipdate:timestamp:opt'),
        | ('events','events|event_id:bigint:opt,ts:timestamp:opt,user_id:bigint:opt,event_type:string:opt,value:double:opt,props:string:opt'),
        | ('documents','documents|doc_id:bigint:opt,text:string:opt,lang:string:opt,source:string:opt,n_chars:bigint:opt'),
        | ('embeddings','embeddings|vec_id:bigint:opt,embedding:array<float>:opt,label:integer:opt')
        |) AS t(table_name, canon)""".stripMargin,
    "q29_render_mermaid" -> {
      val erd =
        """erDiagram
          |    customer {
          |        bigint c_custkey PK
          |        string c_name
          |        integer c_nationkey FK
          |        double c_acctbal
          |        string c_mktsegment
          |    }
          |    nation {
          |        integer n_nationkey PK
          |        string n_name
          |        integer n_regionkey FK
          |    }
          |    region {
          |        integer r_regionkey PK
          |        string r_name
          |    }
          |    customer }o--|| nation : "c_nationkey"
          |    nation }o--|| region : "n_regionkey"
          |""".stripMargin
      s"SELECT 'mermaid' AS format, '${erd.replace("'", "''")}' AS erd"
    },
    "q31_render_plantuml" -> {
      val erd =
        """@startuml
          |hide circle
          |skinparam linetype ortho
          |
          |entity customer {
          |  * c_custkey : bigint
          |  --
          |  c_name : string
          |  c_nationkey : integer
          |  c_acctbal : double
          |  c_mktsegment : string
          |}
          |
          |entity nation {
          |  * n_nationkey : integer
          |  --
          |  n_name : string
          |  n_regionkey : integer
          |}
          |
          |entity region {
          |  * r_regionkey : integer
          |  --
          |  r_name : string
          |}
          |
          |customer }o--|| nation : c_nationkey
          |nation }o--|| region : n_regionkey
          |@enduml
          |""".stripMargin
      s"SELECT 'plantuml' AS format, '${erd.replace("'", "''")}' AS erd"
    },
    // Assembled from first principles: columns/types from DESCRIBE (mapped
    // to Spark type names), the edge set from the SAME scoped derivation
    // the q15 oracle uses, and the grid layout's closed-form arithmetic
    // (ceil(sqrt(n)) columns, 260-pixel pitch, 30-pixel rows) in SQL.
    "q39_render_drawio" ->
      s"""WITH ${detectionOracleCtes(Seq("region", "nation", "customer"))},
         |cols6 AS (SELECT t, c, dt, ord FROM cat WHERE ord <= 6),
         |tbls AS (SELECT t, COUNT(*) AS nshow FROM cols6 GROUP BY t),
         |pos AS (SELECT t, nshow, ROW_NUMBER() OVER (ORDER BY t) - 1 AS i,
         |               CAST(ceil(sqrt((SELECT COUNT(*) FROM tbls))) AS INT) AS gc
         |        FROM tbls),
         |tblxml AS (
         |  SELECT i,
         |    '<mxCell id="tbl_' || t || '" value="' || t ||
         |    '" style="swimlane" vertex="1" parent="1"><mxGeometry x="' ||
         |    ((i % gc) * 260 + 40) || '" y="' || ((i // gc) * 260 + 40) ||
         |    '" width="200" height="' || (30 * (nshow + 1)) ||
         |    '" as="geometry"/></mxCell>' ||
         |    (SELECT string_agg(
         |       '<mxCell id="col_' || t || '_' || c || '" value="' || c || ': ' || dt ||
         |       '" style="text" vertex="1" parent="tbl_' || t ||
         |       '"><mxGeometry y="' || (30 * ord) ||
         |       '" width="200" height="30" as="geometry"/></mxCell>',
         |       '' ORDER BY ord)
         |     FROM cols6 WHERE cols6.t = pos.t) AS x
         |  FROM pos),
         |relxml AS (
         |  SELECT string_agg(
         |    '<mxCell id="rel_' || (rn - 1) ||
         |    '" style="edgeStyle=orthogonalEdgeStyle;strokeColor=' ||
         |    CASE WHEN confidence >= 0.9 THEN '#00AA00'
         |         WHEN confidence >= 0.7 THEN '#FF8800'
         |         ELSE '#CC0000' END ||
         |    '" edge="1" parent="1" source="tbl_' || source_table ||
         |    '" target="tbl_' || target_table ||
         |    '"><mxGeometry relative="1" as="geometry"/></mxCell>',
         |    '' ORDER BY rn)
         |    AS x
         |  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY source_table,
         |          source_column, target_table, target_column) AS rn
         |        FROM edges_final))
         |SELECT 'drawio' AS format,
         |  '<mxfile host="app.diagrams.net"><diagram name="ERD"><mxGraphModel>' ||
         |  '<root><mxCell id="0"/><mxCell id="1" parent="0"/>' ||
         |  (SELECT string_agg(x, '' ORDER BY i) FROM tblxml) ||
         |  COALESCE((SELECT x FROM relxml), '') ||
         |  '</root></mxGraphModel></diagram></mxfile>' AS erd""".stripMargin,
    "q32_simhash" -> {
      val sums = (0 until 60)
        .map(b => s"SUM(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n    ")
      val bits = (0 until 60)
        .map(b => s"CASE WHEN s$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok
         |           FROM documents),
         |h AS (SELECT doc_id, ${dkHash("tok", 0)} AS hv FROM t),
         |s AS (SELECT doc_id,
         |    $sums
         |  FROM h GROUP BY doc_id)
         |SELECT doc_id, $bits AS simhash FROM s""".stripMargin
    },
    "q33_enhanced_detect" ->
      """SELECT source_table, source_column, target_table, target_column,
        |       detection_method, is_valid AS data_validated,
        |       CAST(adj AS DOUBLE) AS adjusted_confidence
        |FROM (VALUES
        | ('customer','c_nationkey','nation','n_nationkey','exact_match',true,1.0),
        | ('events','user_id','customer','c_custkey','custom_rule',true,1.0),
        | ('lineitem','l_orderkey','orders','o_orderkey','exact_match',true,1.0),
        | ('lineitem','l_partkey','part','p_partkey','exact_match',true,1.0),
        | ('lineitem','l_suppkey','supplier','s_suppkey','exact_match',true,1.0),
        | ('nation','n_regionkey','region','r_regionkey','exact_match',true,1.0),
        | ('orders','o_custkey','customer','c_custkey','exact_match',true,1.0),
        | ('supplier','s_nationkey','nation','n_nationkey','exact_match',true,1.0)
        |) AS t(source_table, source_column, target_table, target_column,
        |       detection_method, is_valid, adj)""".stripMargin,
    "q34_running_totals" ->
      """SELECT o_custkey, o_orderkey,
        |       ROW_NUMBER() OVER w AS order_seq,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
        |       LAG(o_orderkey, 1) OVER w AS prev_orderkey
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q35_cube_report" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q37_ordered_limit" ->
      """SELECT o_orderkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    "q36_sql_surface" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE o_orderstatus <> 'F'
        |GROUP BY c_mktsegment""".stripMargin,
    "q30_multimodal_features" ->
      """SELECT doc_id AS asset_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_digest,
        |       CAST(CAST(('0x'||substr(md5(text),1,4)) AS BIGINT) % 1920 + 1 AS INT) AS width,
        |       CAST(CAST(('0x'||substr(md5(text),5,4)) AS BIGINT) % 1080 + 1 AS INT) AS height,
        |       CAST(CAST(('0x'||substr(md5(text),9,8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS sharpness
        |FROM documents""".stripMargin,
    "q59_multimodal_frames" ->
      """WITH a AS (SELECT doc_id AS asset_id, md5(text) AS d FROM documents),
        |dur AS (SELECT asset_id, d,
        |          CAST(CAST(('0x'||substr(d,17,4)) AS BIGINT) % 120 + 1 AS INT) AS duration_s
        |        FROM a),
        |fr AS (SELECT asset_id, d,
        |         CAST(unnest(range(0, duration_s, 10)) AS INT) AS frame_offset_s
        |       FROM dur),
        |fd AS (SELECT asset_id, frame_offset_s,
        |         md5(d || ':' || CAST(frame_offset_s AS VARCHAR)) AS frame_digest
        |       FROM fr),
        |dims AS (SELECT asset_id, frame_offset_s, frame_digest,
        |           CAST(CAST(('0x'||substr(frame_digest,1,4)) AS BIGINT) % 1920 + 1 AS INT) AS width,
        |           CAST(CAST(('0x'||substr(frame_digest,5,4)) AS BIGINT) % 1080 + 1 AS INT) AS height
        |         FROM fd)
        |SELECT asset_id, frame_offset_s, frame_digest, width, height,
        |  CAST(floor(CAST(width AS DOUBLE) *
        |    LEAST(224.0 / width, 224.0 / height, 1.0)) AS INT) AS thumb_w,
        |  CAST(floor(CAST(height AS DOUBLE) *
        |    LEAST(224.0 / width, 224.0 / height, 1.0)) AS INT) AS thumb_h
        |FROM dims""".stripMargin)

  /** First-principles DuckDB derivation of the detected edge set: the column
    * catalog comes from DESCRIBE over the registered tables (no transcribed
    * schema facts), classification and detection re-apply the SAME rules as
    * KeyClassifier/RelationshipDetector in SQL, and conflict resolution +
    * top-k filtering mirror the windowed argmax. Strategies that are
    * provably no-ops on this catalog are omitted with the proof in place:
    * data-vault needs h_/dim_/… table prefixes (none exist), the enhanced
    * cascade's name attempts only rediscover exact-match pairs at lower
    * confidence (resolved away), and type-compatibility emits 0.4 < the 0.5
    * threshold. Backfill is a no-op because no source table exceeds 3
    * threshold-clearing edges.
    */
  private def detectionOracleCtes: String = detectionOracleCtes(
    Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings"))

  private def detectionOracleCtes(tables: Seq[String]): String = {
    val raw = tables.map(t =>
      s"SELECT '$t' AS t, lower(column_name) AS c, column_type AS ty, " +
        s"ROW_NUMBER() OVER () AS ord FROM (DESCRIBE $t)")
      .mkString("\n    UNION ALL ")
    s"""raw AS (
       |    $raw),
       |cat AS (
       |  SELECT t, c, ord, ty LIKE '%[]' AS is_array,
       |         CASE replace(lower(ty), '[]', '')
       |           WHEN 'varchar' THEN 'string' WHEN 'blob' THEN 'binary'
       |           ELSE replace(lower(ty), '[]', '') END AS dt
       |  FROM raw),
       |cls AS (
       |  SELECT t, c, ord, is_array, dt,
       |         regexp_replace(c, '^[a-z]{1,2}_(.)', '\\1') AS base,
       |         regexp_replace(regexp_replace(c, '^[a-z]{1,2}_(.)', '\\1'),
       |                        '_?(id|key|fk|pk|hk|hash_key|sk)$$', '') AS stem,
       |         regexp_replace(t, '^(h_|dim_|l_|ref_|fact_|bridge_|tbl_|table_)', '') AS tbase,
       |         CASE WHEN dt IN ('integer','bigint','smallint','tinyint') THEN 'int'
       |              WHEN dt IN ('string','varchar','char') THEN 'string'
       |              WHEN dt IN ('double','float','decimal') THEN 'float'
       |              WHEN dt = 'boolean' THEN 'bool' ELSE dt END AS tg
       |  FROM cat),
       |flagged AS (
       |  SELECT *,
       |         (NOT is_array) AND dt IN ('integer','bigint','string','binary')
       |           AND regexp_matches(base, '_?(id|key|fk|pk|hk|hash_key|sk)$$')
       |           AND (base IN ('id','key')
       |                OR (length(stem) >= 3 AND starts_with(tbase, stem))
       |                OR stem = tbase
       |                OR stem = regexp_replace(tbase, 's$$', '')) AS is_pk
       |  FROM cls),
       |keyed AS (
       |  SELECT *,
       |         (NOT is_array) AND dt IN ('integer','bigint','string','binary')
       |           AND regexp_matches(base, '_?(id|key|fk|pk|hk|hash_key|sk)$$')
       |           AND NOT is_pk AS is_fk
       |  FROM flagged),
       |exact_m AS (
       |  SELECT f.t AS source_table, f.c AS source_column,
       |         p.t AS target_table, p.c AS target_column,
       |         'many_to_one' AS relationship_type, 0.95 AS confidence,
       |         'exact_match' AS detection_method, false AS is_custom, 1 AS mrank
       |  FROM keyed f JOIN keyed p ON f.base = p.base AND f.tg = p.tg
       |  WHERE f.is_fk AND p.is_pk AND f.t <> p.t),
       |best_key AS (
       |  SELECT tbase AS cand, t, c, tg FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY t
       |      ORDER BY is_pk DESC, (base IN ('id','key')) DESC, ord ASC) AS brk
       |    FROM keyed WHERE is_pk OR is_fk)
       |  WHERE brk = 1),
       |suffix_m AS (
       |  SELECT f.t AS source_table, f.c AS source_column,
       |         b.t AS target_table, b.c AS target_column,
       |         'many_to_one' AS relationship_type, 0.8 AS confidence,
       |         'foreign_key' AS detection_method, false AS is_custom, 4 AS mrank
       |  FROM (SELECT t, c, tg, unnest([stem, stem || 's', stem || 'es',
       |                                 regexp_replace(stem, 's$$', '')]) AS cand
       |        FROM keyed WHERE is_fk AND length(stem) >= 2) f
       |  JOIN best_key b USING (cand)
       |  WHERE f.t <> b.t AND f.tg = b.tg),
       |custom_m AS (
       |  SELECT 'events' AS source_table, 'user_id' AS source_column,
       |         'customer' AS target_table, 'c_custkey' AS target_column,
       |         'many_to_one' AS relationship_type, 0.9 AS confidence,
       |         'custom_rule' AS detection_method, true AS is_custom, 0 AS mrank
       |  WHERE EXISTS (SELECT 1 FROM keyed WHERE t = 'events' AND c = 'user_id')
       |    AND EXISTS (SELECT 1 FROM keyed WHERE t = 'customer' AND c = 'c_custkey')
       |    AND (SELECT tg FROM keyed WHERE t = 'events' AND c = 'user_id')
       |        = (SELECT tg FROM keyed WHERE t = 'customer' AND c = 'c_custkey')),
       |unioned AS (
       |  SELECT * FROM exact_m UNION ALL SELECT * FROM suffix_m
       |  UNION ALL SELECT * FROM custom_m),
       |resolved AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY source_table, source_column, target_table, target_column
       |      ORDER BY confidence DESC, is_custom DESC, mrank ASC) AS rrk
       |    FROM unioned) WHERE rrk = 1),
       |edges_final AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source_table, target_table
       |      ORDER BY confidence DESC, source_column ASC,
       |               target_table ASC, target_column ASC) AS prk
       |    FROM (
       |      SELECT * FROM (
       |        SELECT *, ROW_NUMBER() OVER (PARTITION BY source_table
       |          ORDER BY confidence DESC, source_column ASC,
       |                   target_table ASC, target_column ASC) AS trk
       |        FROM resolved WHERE confidence >= 0.5)
       |      WHERE trk <= 3
       |        AND (detection_method IN ('enhanced_pk_fk', 'data_vault_pattern')
       |             OR confidence >= 0.5)))
       |  WHERE prk = 1)""".stripMargin
  }

  /** Golden oracle for q13 (static schema facts × live row counts). */
  private def catalogOracleSql: Map[String, String] = Map(
    "q13_catalog_summary" ->
      """WITH s(table_name, n_columns, n_pk_candidates, n_fk_candidates, n_array_columns, n_distinct_types) AS (VALUES
        | ('region',2,1,0,0,2),('nation',3,1,1,0,2),('customer',5,1,1,0,4),
        | ('supplier',4,1,1,0,4),('part',6,1,0,0,4),('orders',6,1,1,0,4),
        | ('lineitem',11,0,3,0,5),('events',6,1,1,0,4),('documents',5,1,0,0,2),
        | ('embeddings',3,0,1,1,3)),
        |c(table_name, num_rows) AS (
        | SELECT 'region', COUNT(*) FROM region UNION ALL
        | SELECT 'nation', COUNT(*) FROM nation UNION ALL
        | SELECT 'customer', COUNT(*) FROM customer UNION ALL
        | SELECT 'supplier', COUNT(*) FROM supplier UNION ALL
        | SELECT 'part', COUNT(*) FROM part UNION ALL
        | SELECT 'orders', COUNT(*) FROM orders UNION ALL
        | SELECT 'lineitem', COUNT(*) FROM lineitem UNION ALL
        | SELECT 'events', COUNT(*) FROM events UNION ALL
        | SELECT 'documents', COUNT(*) FROM documents UNION ALL
        | SELECT 'embeddings', COUNT(*) FROM embeddings)
        |SELECT s.table_name, CAST(n_columns AS BIGINT) AS n_columns,
        |       CAST(n_pk_candidates AS BIGINT) AS n_pk_candidates,
        |       CAST(n_fk_candidates AS BIGINT) AS n_fk_candidates,
        |       CAST(n_array_columns AS BIGINT) AS n_array_columns,
        |       CAST(n_distinct_types AS BIGINT) AS n_distinct_types,
        |       c.num_rows
        |FROM s JOIN c USING (table_name)""".stripMargin,
    "q14_key_classification" ->
      """SELECT * FROM (VALUES
        | ('region','r_regionkey','integer','regionkey','region',true,false),
        | ('nation','n_nationkey','integer','nationkey','nation',true,false),
        | ('nation','n_regionkey','integer','regionkey','region',false,true),
        | ('customer','c_custkey','bigint','custkey','cust',true,false),
        | ('customer','c_nationkey','integer','nationkey','nation',false,true),
        | ('supplier','s_suppkey','bigint','suppkey','supp',true,false),
        | ('supplier','s_nationkey','integer','nationkey','nation',false,true),
        | ('part','p_partkey','bigint','partkey','part',true,false),
        | ('orders','o_orderkey','bigint','orderkey','order',true,false),
        | ('orders','o_custkey','bigint','custkey','cust',false,true),
        | ('lineitem','l_orderkey','bigint','orderkey','order',false,true),
        | ('lineitem','l_partkey','bigint','partkey','part',false,true),
        | ('lineitem','l_suppkey','bigint','suppkey','supp',false,true),
        | ('events','event_id','bigint','event_id','event',true,false),
        | ('events','user_id','bigint','user_id','user',false,true),
        | ('documents','doc_id','bigint','doc_id','doc',true,false),
        | ('embeddings','vec_id','bigint','vec_id','vec',false,true)
        |) AS t(table_name, column_name, data_type, base_name, key_stem,
        |       is_pk_candidate, is_fk_candidate)""".stripMargin,
    "q15_detect_relationships" ->
      s"""WITH $detectionOracleCtes
         |SELECT source_table, source_column, target_table, target_column,
         |       relationship_type, CAST(confidence AS DOUBLE) AS confidence,
         |       detection_method, is_custom
         |FROM edges_final""".stripMargin,
    "q16_datatest_metrics" -> datatestOracle,
    "q53_state_stats" ->
      s"""WITH $detectionOracleCtes
         |SELECT CAST(10 AS BIGINT) AS processed_tables,
         |       CAST(1700000000000 AS BIGINT) AS last_processed_at_ms,
         |       (SELECT COUNT(*) FROM edges_final) AS total_relationships,
         |       (SELECT COUNT(DISTINCT relationship_type) FROM edges_final)
         |         AS n_relationship_types,
         |       (SELECT string_agg(kv, ',' ORDER BY kv) FROM (
         |          SELECT relationship_type || ':' || COUNT(*) AS kv
         |          FROM edges_final GROUP BY relationship_type))
         |         AS relationship_types,
         |       (SELECT COUNT(*) FROM edges_final) AS n_cache_entries,
         |       (SELECT COUNT(*) FROM edges_final WHERE confidence >= 0.95)
         |         AS n_cache_fresh,
         |       (SELECT COUNT(*) FROM edges_final WHERE confidence < 0.95)
         |         AS n_cache_expired,
         |       CAST(24 AS BIGINT) AS cache_ttl_hours""".stripMargin,
    "q45_quality_report" ->
      s"""WITH $detectionOracleCtes
         |SELECT 'confidence_distribution' AS dimension,
         |       CASE WHEN confidence >= 0.8 THEN 'high_confidence'
         |            WHEN confidence >= 0.5 THEN 'medium_confidence'
         |            ELSE 'low_confidence' END AS key,
         |       COUNT(*) AS n_edges
         |FROM edges_final GROUP BY 2
         |UNION ALL
         |SELECT 'by_detection_method', detection_method, COUNT(*) FROM edges_final GROUP BY 2
         |UNION ALL
         |SELECT 'by_relationship_type', relationship_type, COUNT(*) FROM edges_final GROUP BY 2
         |UNION ALL
         |SELECT 'total', 'total_relationships', COUNT(*) FROM edges_final
         |UNION ALL
         |SELECT 'total', 'avg_confidence_x1000',
         |       CAST(round(AVG(confidence) * 1000) AS BIGINT) FROM edges_final""".stripMargin)

  /** DuckDB recomputation of q16's metrics per edge — same integer-exact
    * formulation as DataTester (counts and delta sums are exact integers;
    * the few final double ops are written in the same order as the Spark
    * expressions, so results are bit-identical).
    */
  private def datatestOracle: String = {
    val ctes = detectedEdges.zipWithIndex.map { case ((st, sc, tt, tc, _), i) =>
      s"""a$i AS (SELECT $sc AS v, COUNT(*) AS cnt FROM $st WHERE $sc IS NOT NULL GROUP BY 1),
         |b$i AS (SELECT $tc AS v, COUNT(*) AS cnt FROM $tt WHERE $tc IS NOT NULL GROUP BY 1),
         |ta$i AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot_a, COUNT(*) AS n_src FROM a$i),
         |tb$i AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot_b FROM b$i),
         |j$i AS (SELECT CAST(SUM(ABS(a$i.cnt*tot_b - b$i.cnt*tot_a)) AS BIGINT) AS delta_sum,
         |             COUNT(*) AS common
         |      FROM a$i JOIN b$i USING (v), ta$i, tb$i),
         |ri$i AS (SELECT COUNT(*) AS matched FROM a$i WHERE v IN (SELECT v FROM b$i))""".stripMargin
    }
    val branches = detectedEdges.zipWithIndex.map { case ((st, sc, tt, tc, conf), i) =>
      s"""SELECT '$st' AS source_table, '$sc' AS source_column,
         |       '$tt' AS target_table, '$tc' AS target_column,
         |       CAST(matched AS DOUBLE) / n_src AS ri_ratio,
         |       CAST(1.0 AS DOUBLE) AS type_compatibility,
         |       CASE WHEN common = 0 OR n_src = 0 THEN 0.0
         |            ELSE (1.0 - CAST(delta_sum AS DOUBLE) / (CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE)) / common)
         |                 * (CAST(common AS DOUBLE) / n_src) END AS dist_similarity,
         |       LEAST(GREATEST((CAST(matched AS DOUBLE) / n_src) * 0.5 + CAST(1.0 AS DOUBLE) * 0.3 +
         |             (CASE WHEN common = 0 OR n_src = 0 THEN 0.0
         |                   ELSE (1.0 - CAST(delta_sum AS DOUBLE) / (CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE)) / common)
         |                        * (CAST(common AS DOUBLE) / n_src) END) * 0.2, 0.0), 1.0) AS overall_confidence,
         |       n_src - matched AS orphan_values,
         |       n_src AS total_src,
         |       CAST($conf AS DOUBLE) AS confidence
         |FROM j$i, ri$i, ta$i, tb$i""".stripMargin
    }
    ctes.mkString("WITH ", ",\n", ",\n") +
      branches.mkString("m AS (\n", "\nUNION ALL\n", s"""
        |)
        |SELECT *,
        |  overall_confidence >= 0.7 AS data_validated,
        |  CASE WHEN overall_confidence >= 0.7 THEN LEAST(confidence + 0.2, 1.0)
        |       ELSE GREATEST(confidence - 0.3, 0.1) END AS adjusted_confidence
        |FROM m""".stripMargin)
  }

  private def coreOracleSql: Map[String, String] = Map(
    "q60_column_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS column_name, COUNT($c) AS n,
           |  COUNT(*) - COUNT($c) AS n_null,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS DOUBLE) AS min_v, CAST(MAX($c) AS DOUBLE) AS max_v,
           |  CAST(SUM(CAST($c AS DECIMAL(18,4))) AS DOUBLE) / COUNT($c) AS mean_v
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(one).mkString("\nUNION ALL\n")
    },
    "q63_skew_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        |       COUNT(DISTINCT user_id) AS n_users
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q64_percentiles" -> {
      val ps = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
      ps.map(p =>
        s"SELECT $p AS p, quantile_cont(CAST(l_extendedprice AS DOUBLE), $p) AS value FROM lineitem")
        .mkString("\nUNION ALL\n")
    },
    "q242_percentiles_auto" ->
      Seq(0.1, 0.5, 0.9).map(p =>
        s"SELECT $p AS p, quantile_cont(CAST(l_discount AS DOUBLE), $p) AS value FROM lineitem")
        .mkString("\nUNION ALL\n"),
    "q243_pcm_zero_cross" ->
      """WITH a AS (SELECT doc_id AS asset_id,
        |                  hex(CAST(text AS BLOB)) AS h,
        |                  octet_length(CAST(text AS BLOB)) // 2 AS ns
        |           FROM documents WHERE doc_id < 100),
        |s AS (SELECT asset_id, h, ns, unnest(range(0, ns)) AS i FROM a),
        |u AS (SELECT asset_id, ns, i,
        |        CAST(('0x'||substr(h, CAST(4*i+1 AS BIGINT), 2)) AS BIGINT)
        |        + 256 * CAST(('0x'||substr(h, CAST(4*i+3 AS BIGINT), 2)) AS BIGINT) AS uu,
        |        CASE WHEN i + 1 < ns THEN
        |          CAST(('0x'||substr(h, CAST(4*(i+1)+1 AS BIGINT), 2)) AS BIGINT)
        |          + 256 * CAST(('0x'||substr(h, CAST(4*(i+1)+3 AS BIGINT), 2)) AS BIGINT)
        |        END AS un
        |      FROM s),
        |v AS (SELECT asset_id, i, ns, i // 16 AS window_idx,
        |        CASE WHEN uu >= 32768 THEN uu - 65536 ELSE uu END AS v,
        |        CASE WHEN un >= 32768 THEN un - 65536 ELSE un END AS vn
        |      FROM u)
        |SELECT asset_id, CAST(window_idx AS BIGINT) AS window_idx,
        |       COUNT(*) AS n_samples,
        |       CAST(SUM(CASE WHEN i + 1 < ns AND (i+1) // 16 = i // 16
        |                      AND ((v < 0) <> (vn < 0)) THEN 1 ELSE 0 END) AS BIGINT)
        |         AS zero_crossings,
        |       CAST(MAX(abs(v)) AS BIGINT) AS peak
        |FROM v GROUP BY 1, 2""".stripMargin,
    "q245_sq8_error" ->
      """WITH b AS (SELECT vec_id, embedding,
        |                  CAST(list_min(embedding) AS DOUBLE) AS mn,
        |                  CAST(list_max(embedding) AS DOUBLE) AS mx
        |           FROM embeddings),
        |d AS (SELECT vec_id, mn, mx, (mx - mn) / 255.0 AS scale,
        |             CAST(unnest(embedding) AS DOUBLE) AS x FROM b),
        |q AS (SELECT vec_id, x, mn, scale,
        |        CASE WHEN mx > mn
        |             THEN LEAST(floor((x - mn) / scale + 0.5), 255.0)
        |             ELSE 0.0 END AS q
        |      FROM d),
        |e AS (SELECT vec_id, x - (mn + q * scale) AS diff FROM q)
        |SELECT vec_id, COUNT(*) AS n_dims,
        |       CAST(SUM(floor(diff*diff*1048576)) AS BIGINT) AS err_fp,
        |       CAST(MAX(floor(abs(diff)*1048576)) AS BIGINT) AS max_abs_err_fp
        |FROM e GROUP BY 1""".stripMargin,
    // G.711 replays (q334/q335): the ITU-T expansion formulas verbatim
    // over the raw payload bytes (truncated to the even data length the
    // encoder writes) — shifts as power-of-two CASE tables, ~x as 255-x
    // q350: AIFF mono replay — samples are BIG-endian 16-bit pairs
    // (256·b[2i] + b[2i+1], signed), the family split from WAV's LE
    "q350_aiff_stats" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 150),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 2 AS ns
        |      FROM src WHERE octet_length(p) // 2 >= 1),
        |sm AS (SELECT asset_id, ns, i,
        |        256 * CAST(('0x'||substr(h, CAST(4*i+1 AS BIGINT), 2))
        |                   AS BIGINT)
        |        + CAST(('0x'||substr(h, CAST(4*i+3 AS BIGINT), 2))
        |               AS BIGINT) AS u
        |      FROM (SELECT asset_id, ns, h, unnest(range(0, ns)) AS i
        |            FROM g)),
        |sg AS (SELECT asset_id, ns, i,
        |        CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
        |      FROM sm)
        |SELECT asset_id, TRUE AS is_valid, CAST(1 AS BIGINT) AS n_channels,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(ns AS BIGINT) AS n_frames,
        |       CAST(SUM(s) AS BIGINT) AS sum_s,
        |       CAST(SUM(abs(s)) AS BIGINT) AS sum_abs,
        |       CAST(SUM(i * s) AS BIGINT) AS sum_if,
        |       CAST(SUM(s) AS BIGINT) AS sum_l,
        |       CAST(0 AS BIGINT) AS sum_r
        |FROM sg GROUP BY asset_id, ns""".stripMargin,
    // q351: stereo AIFF — BE16 left at byte 4f, right at 4f+2
    "q351_aiff_stereo" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 150),
        |g AS (SELECT asset_id, hex(p) AS h, octet_length(p) // 4 AS nf
        |      FROM src WHERE octet_length(p) // 4 >= 1),
        |fr AS (SELECT asset_id, nf, f,
        |        256 * CAST(('0x'||substr(h, CAST(8*f+1 AS BIGINT), 2))
        |                   AS BIGINT)
        |        + CAST(('0x'||substr(h, CAST(8*f+3 AS BIGINT), 2))
        |               AS BIGINT) AS ul,
        |        256 * CAST(('0x'||substr(h, CAST(8*f+5 AS BIGINT), 2))
        |                   AS BIGINT)
        |        + CAST(('0x'||substr(h, CAST(8*f+7 AS BIGINT), 2))
        |               AS BIGINT) AS ur
        |      FROM (SELECT asset_id, nf, h, unnest(range(0, nf)) AS f
        |            FROM g)),
        |sg AS (SELECT asset_id, nf, f,
        |        CASE WHEN ul >= 32768 THEN ul - 65536 ELSE ul END AS l,
        |        CASE WHEN ur >= 32768 THEN ur - 65536 ELSE ur END AS r
        |      FROM fr)
        |SELECT asset_id, TRUE AS is_valid, CAST(2 AS BIGINT) AS n_channels,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(nf AS BIGINT) AS n_frames,
        |       CAST(SUM(l + r) AS BIGINT) AS sum_s,
        |       CAST(SUM(abs(l) + abs(r)) AS BIGINT) AS sum_abs,
        |       CAST(SUM(f * (l + r)) AS BIGINT) AS sum_if,
        |       CAST(SUM(l) AS BIGINT) AS sum_l,
        |       CAST(SUM(r) AS BIGINT) AS sum_r
        |FROM sg GROUP BY asset_id, nf""".stripMargin,
    // q349: stereo frames off raw payload — left = LE16 at byte 4f,
    // right at 4f+2, whole block-aligned frames only
    "q349_wav_stereo" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 150),
        |g AS (SELECT asset_id, hex(p) AS h,
        |        ((octet_length(p) // 2) * 2) // 4 AS nf
        |      FROM src WHERE octet_length(p) >= 2
        |        AND ((octet_length(p) // 2) * 2) // 4 >= 1),
        |fr AS (SELECT asset_id, nf, f,
        |        CAST(('0x'||substr(h, CAST(8*f+1 AS BIGINT), 2)) AS BIGINT)
        |        + 256 * CAST(('0x'||substr(h, CAST(8*f+3 AS BIGINT), 2))
        |                     AS BIGINT) AS ul,
        |        CAST(('0x'||substr(h, CAST(8*f+5 AS BIGINT), 2)) AS BIGINT)
        |        + 256 * CAST(('0x'||substr(h, CAST(8*f+7 AS BIGINT), 2))
        |                     AS BIGINT) AS ur
        |      FROM (SELECT asset_id, nf, h, unnest(range(0, nf)) AS f
        |            FROM g)),
        |sg AS (SELECT asset_id, nf, f,
        |        CASE WHEN ul >= 32768 THEN ul - 65536 ELSE ul END AS l,
        |        CASE WHEN ur >= 32768 THEN ur - 65536 ELSE ur END AS r
        |      FROM fr)
        |SELECT asset_id, CAST(nf AS BIGINT) AS n_frames,
        |       CAST(SUM(l) AS BIGINT) AS sum_l,
        |       CAST(SUM(r) AS BIGINT) AS sum_r,
        |       CAST(SUM(abs(l)) AS BIGINT) AS sum_abs_l,
        |       CAST(SUM(abs(r)) AS BIGINT) AS sum_abs_r,
        |       CAST(SUM(f * (l + r)) AS BIGINT) AS sum_if
        |FROM sg GROUP BY asset_id, nf""".stripMargin,
    // q356: extensible header — q349's oracle verbatim
    "q356_wav_extensible" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 150),
        |g AS (SELECT asset_id, hex(p) AS h,
        |        ((octet_length(p) // 2) * 2) // 4 AS nf
        |      FROM src WHERE octet_length(p) >= 2
        |        AND ((octet_length(p) // 2) * 2) // 4 >= 1),
        |fr AS (SELECT asset_id, nf, f,
        |        CAST(('0x'||substr(h, CAST(8*f+1 AS BIGINT), 2)) AS BIGINT)
        |        + 256 * CAST(('0x'||substr(h, CAST(8*f+3 AS BIGINT), 2))
        |                     AS BIGINT) AS ul,
        |        CAST(('0x'||substr(h, CAST(8*f+5 AS BIGINT), 2)) AS BIGINT)
        |        + 256 * CAST(('0x'||substr(h, CAST(8*f+7 AS BIGINT), 2))
        |                     AS BIGINT) AS ur
        |      FROM (SELECT asset_id, nf, h, unnest(range(0, nf)) AS f
        |            FROM g)),
        |sg AS (SELECT asset_id, nf, f,
        |        CASE WHEN ul >= 32768 THEN ul - 65536 ELSE ul END AS l,
        |        CASE WHEN ur >= 32768 THEN ur - 65536 ELSE ur END AS r
        |      FROM fr)
        |SELECT asset_id, CAST(nf AS BIGINT) AS n_frames,
        |       CAST(SUM(l) AS BIGINT) AS sum_l,
        |       CAST(SUM(r) AS BIGINT) AS sum_r,
        |       CAST(SUM(abs(l)) AS BIGINT) AS sum_abs_l,
        |       CAST(SUM(abs(r)) AS BIGINT) AS sum_abs_r,
        |       CAST(SUM(f * (l + r)) AS BIGINT) AS sum_if
        |FROM sg GROUP BY asset_id, nf""".stripMargin,
    "q334_wav_ulaw" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 150),
        |g AS (SELECT asset_id, hex(p) AS h,
        |        (octet_length(p) // 2) * 2 AS dl
        |      FROM src WHERE octet_length(p) >= 2),
        |b AS (SELECT asset_id,
        |        255 - CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2))
        |                   AS BIGINT) AS c
        |      FROM (SELECT asset_id, h, unnest(range(0, dl)) AS i FROM g)),
        |m AS (SELECT asset_id, c,
        |        CASE ((c // 16) % 8) WHEN 0 THEN 1 WHEN 1 THEN 2
        |          WHEN 2 THEN 4 WHEN 3 THEN 8 WHEN 4 THEN 16 WHEN 5 THEN 32
        |          WHEN 6 THEN 64 ELSE 128 END AS mul
        |      FROM b),
        |s AS (SELECT asset_id,
        |        CASE WHEN c >= 128 THEN 132 - ((c % 16) * 8 + 132) * mul
        |             ELSE ((c % 16) * 8 + 132) * mul - 132 END AS s
        |      FROM m)
        |SELECT asset_id, CAST(7 AS BIGINT) AS law,
        |       CAST(COUNT(*) AS BIGINT) AS n_samples,
        |       CAST(SUM(s) AS BIGINT) AS sum_s,
        |       CAST(SUM(abs(s)) AS BIGINT) AS sum_abs
        |FROM s GROUP BY asset_id""".stripMargin,
    "q335_wav_alaw" ->
      """WITH src AS (SELECT doc_id AS asset_id, CAST(text AS BLOB) AS p
        |             FROM documents WHERE doc_id < 150),
        |g AS (SELECT asset_id, hex(p) AS h,
        |        (octet_length(p) // 2) * 2 AS dl
        |      FROM src WHERE octet_length(p) >= 2),
        |b AS (SELECT asset_id,
        |        xor(CAST(('0x'||substr(h, CAST(2*i+1 AS BIGINT), 2))
        |                 AS BIGINT), 85) AS a
        |      FROM (SELECT asset_id, h, unnest(range(0, dl)) AS i FROM g)),
        |t AS (SELECT asset_id, a,
        |        CASE ((a // 16) % 8) WHEN 0 THEN (a % 16) * 16 + 8
        |          WHEN 1 THEN (a % 16) * 16 + 264
        |          ELSE ((a % 16) * 16 + 264) *
        |            (CASE ((a // 16) % 8) WHEN 2 THEN 2 WHEN 3 THEN 4
        |             WHEN 4 THEN 8 WHEN 5 THEN 16 WHEN 6 THEN 32
        |             ELSE 64 END) END AS mag
        |      FROM b),
        |s AS (SELECT asset_id,
        |        CASE WHEN a // 128 = 1 THEN mag ELSE -mag END AS s
        |      FROM t)
        |SELECT asset_id, CAST(6 AS BIGINT) AS law,
        |       CAST(COUNT(*) AS BIGINT) AS n_samples,
        |       CAST(SUM(s) AS BIGINT) AS sum_s,
        |       CAST(SUM(abs(s)) AS BIGINT) AS sum_abs
        |FROM s GROUP BY asset_id""".stripMargin,
    "q253_wav_stats" ->
      s"""WITH ${wavOracleCtes(150)}
         |SELECT asset_id, ok AS is_valid,
         |       CASE WHEN ok THEN channels END AS channels,
         |       CASE WHEN ok THEN sample_rate END AS sample_rate,
         |       CASE WHEN ok THEN dlen // (channels * 2) END AS n_frames,
         |       CASE WHEN ok
         |            THEN ((dlen // (channels * 2)) * 1000) // sample_rate
         |       END AS duration_ms
         |FROM hdr""".stripMargin,
    "q254_wav_energy" ->
      s"""WITH ${wavOracleCtes(100)},
         |vv AS (SELECT asset_id, dlen // 2 AS ns, h FROM hdr
         |       WHERE ok AND dlen // 2 > 0),
         |sx AS (SELECT asset_id, ns, h, unnest(range(0, ns)) AS i FROM vv),
         |u AS (SELECT asset_id, i,
         |        CAST(('0x'||substr(h, CAST(2*(44 + 2*i)+1 AS BIGINT), 2)) AS BIGINT)
         |        + 256 * CAST(('0x'||substr(h, CAST(2*(44 + 2*i)+3 AS BIGINT), 2)) AS BIGINT) AS uu
         |      FROM sx),
         |w AS (SELECT asset_id, i // 16 AS window_idx,
         |        CASE WHEN uu >= 32768 THEN uu - 65536 ELSE uu END AS v FROM u)
         |SELECT asset_id, CAST(window_idx AS BIGINT) AS window_idx,
         |       COUNT(*) AS n_samples,
         |       CAST(SUM(v*v) AS BIGINT) AS energy
         |FROM w GROUP BY 1, 2""".stripMargin,
    "q247_contaminated_spans" ->
      s"""WITH bl AS (SELECT string_split(text,' ') AS l FROM documents WHERE source = 'src0'),
         |bg AS (SELECT unnest($dkShingles) AS gram FROM bl),
         |bh AS (SELECT DISTINCT ${dkHash("gram", 7)} AS gh FROM bg),
         |cl AS (SELECT doc_id, string_split(text,' ') AS l FROM documents WHERE source <> 'src0'),
         |pe AS (SELECT doc_id, unnest(range(1, greatest(len(l) - 1, 1))) AS pos, l FROM cl),
         |pg AS (SELECT doc_id, pos, array_to_string(l[pos:pos+2], ' ') AS gram FROM pe),
         |hit AS (SELECT doc_id, pos FROM pg
         |        WHERE ${dkHash("gram", 7)} IN (SELECT gh FROM bh)),
         |isl AS (SELECT doc_id, pos,
         |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM hit),
         |runs AS (SELECT doc_id, grp, COUNT(*) AS len, MIN(pos) AS strt
         |         FROM isl GROUP BY 1, 2),
         |rk AS (SELECT doc_id, len, strt,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY len DESC, strt ASC) AS rn
         |       FROM runs),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
         |               CAST(SUM(len) AS BIGINT) AS n_hit
         |        FROM runs GROUP BY 1),
         |top AS (SELECT doc_id, CAST(len AS BIGINT) AS longest_run,
         |               CAST(strt AS BIGINT) AS longest_start
         |        FROM rk WHERE rn = 1),
         |tot AS (SELECT doc_id, CAST(greatest(len(l) - 2, 0) AS BIGINT) AS n_grams FROM cl)
         |SELECT doc_id, n_grams, n_hit, n_islands, longest_run,
         |       longest_run + 2 AS longest_tokens, longest_start
         |FROM tot JOIN agg USING (doc_id) JOIN top USING (doc_id)""".stripMargin,
    "q256_mask_contamination" ->
      s"""WITH bl AS (SELECT string_split(text,' ') AS l FROM documents WHERE source = 'src0'),
         |bg AS (SELECT unnest($dkShingles) AS gram FROM bl),
         |bh AS (SELECT DISTINCT ${dkHash("gram", 7)} AS gh FROM bg),
         |cl AS (SELECT doc_id, string_split(text,' ') AS l FROM documents
         |       WHERE source <> 'src0' AND text IS NOT NULL),
         |pe AS (SELECT doc_id, unnest(range(1, greatest(len(l) - 1, 1))) AS pos, l FROM cl),
         |pg AS (SELECT doc_id, pos, array_to_string(l[pos:pos+2], ' ') AS gram FROM pe),
         |hit AS (SELECT doc_id, pos FROM pg
         |        WHERE ${dkHash("gram", 7)} IN (SELECT gh FROM bh)),
         |cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 3)) AS t FROM hit),
         |tok AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS t, l FROM cl),
         |tk AS (SELECT doc_id, t, l[t] AS tok FROM tok),
         |j AS (SELECT tk.doc_id, tk.t,
         |        CASE WHEN cov.t IS NOT NULL THEN 1 ELSE 0 END AS m,
         |        CASE WHEN cov.t IS NOT NULL THEN '<masked>' ELSE tk.tok END AS tok2
         |      FROM tk LEFT JOIN cov ON cov.doc_id = tk.doc_id AND cov.t = tk.t)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |       CAST(SUM(m) AS BIGINT) AS n_masked,
         |       md5(string_agg(tok2, ' ' ORDER BY t)) AS masked_md5
         |FROM j GROUP BY 1""".stripMargin,
    "q248_sorted_neighbors" -> {
      val sums = (0 until 60)
        .map(b => s"SUM(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n    ")
      val bits = (0 until 60)
        .map(b => s"CASE WHEN s$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      val lags = (1 to 3).map(j =>
        s"LAG(doc_id, $j) OVER wd AS pid$j, LAG(simhash, $j) OVER wd AS ps$j")
        .mkString(",\n         ")
      val arms = (1 to 3).map(j =>
        s"SELECT doc_id, simhash, pid$j AS pid, ps$j AS ps FROM lg WHERE pid$j IS NOT NULL")
        .mkString("\n       UNION ALL ")
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok
         |           FROM documents),
         |h AS (SELECT doc_id, ${dkHash("tok", 0)} AS hv FROM t),
         |sg AS (SELECT doc_id,
         |    $sums
         |  FROM h GROUP BY doc_id),
         |sig AS (SELECT doc_id, $bits AS simhash FROM sg),
         |lg AS (SELECT doc_id, simhash,
         |         $lags
         |       FROM sig
         |       WINDOW wd AS (PARTITION BY simhash >> 56 ORDER BY simhash, doc_id)),
         |p AS ($arms)
         |SELECT LEAST(doc_id, pid) AS id_lo, GREATEST(doc_id, pid) AS id_hi,
         |       CAST(bit_count(xor(simhash, ps)) AS BIGINT) AS hamming
         |FROM p WHERE bit_count(xor(simhash, ps)) <= 20""".stripMargin
    },
    "q249_all_but_top" -> {
      def iter(k: Int, prev: String): String =
        s"""n$k AS MATERIALIZED (SELECT gf.i, SUM(CAST(g_sum AS HUGEINT) * $prev.v) AS num
           |        FROM gf JOIN $prev ON gf.j = $prev.j GROUP BY 1),
           |m$k AS (SELECT MAX(abs(num)) AS mx FROM n$k),
           |v$k AS MATERIALIZED (SELECT i AS j, (num * 1048576) // mx AS v
           |        FROM n$k CROSS JOIN m$k)""".stripMargin
      def iterD(k: Int, prev: String): String =
        s"""wn$k AS MATERIALIZED (SELECT d.i, SUM(d.dv * $prev.v) AS num
           |         FROM d JOIN $prev ON d.j = $prev.j GROUP BY 1),
           |wm$k AS (SELECT MAX(abs(num)) AS mx FROM wn$k),
           |w$k AS MATERIALIZED (SELECT wn$k.i AS j,
           |          CASE WHEN mx = 0 THEN $prev.v
           |               ELSE (num * 1048576) // mx END AS v
           |        FROM wn$k CROSS JOIN wm$k JOIN $prev ON $prev.j = wn$k.i)""".stripMargin
      s"""WITH q AS (SELECT list_transform(embedding,
         |             x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv
         |           FROM embeddings),
         |gu AS MATERIALIZED (SELECT CAST(gi.i - 1 AS INT) AS i, CAST(gj.j - 1 AS INT) AS j,
         |              CAST(SUM(qv[gi.i] * qv[gj.j]) AS BIGINT) AS g_sum
         |       FROM q CROSS JOIN generate_series(1, 64) gi(i)
         |              CROSS JOIN generate_series(1, 64) gj(j)
         |       WHERE gj.j >= gi.i GROUP BY 1, 2),
         |gf AS (SELECT i, j, g_sum FROM gu
         |       UNION ALL SELECT j, i, g_sum FROM gu WHERE i <> j),
         |v0 AS (SELECT unnest(range(0, 64)) AS j, CAST(1048576 AS HUGEINT) AS v),
         |${iter(1, "v0")},
         |${iter(2, "v1")},
         |${iter(3, "v2")},
         |gv AS (SELECT gf.i, SUM(CAST(g_sum AS HUGEINT) * v3.v) AS num
         |       FROM gf JOIN v3 ON gf.j = v3.j GROUP BY 1),
         |r AS (SELECT SUM(v3.v * gv.num) AS vgv
         |      FROM v3 JOIN gv ON v3.j = gv.i),
         |s AS (SELECT SUM(v * v) AS vv FROM v3),
         |tr AS (SELECT SUM(CAST(g_sum AS HUGEINT)) AS trace FROM gu WHERE i = j),
         |vb AS MATERIALIZED (SELECT j, v // 1024 AS vb FROM v3),
         |svb AS (SELECT SUM(vb * vb) AS vvb FROM vb),
         |gvb AS (SELECT gf.i, SUM(CAST(g_sum AS HUGEINT) * vb.vb) AS num
         |        FROM gf JOIN vb ON gf.j = vb.j GROUP BY 1),
         |rvb AS (SELECT SUM(vb.vb * gvb.num) AS vgvb
         |        FROM vb JOIN gvb ON vb.j = gvb.i),
         |d AS MATERIALIZED (SELECT gf.i, gf.j,
         |        (CAST(g_sum AS HUGEINT) * vvb * vvb - vgvb * va.vb * vc.vb)
         |          // 1099511627776 AS dv
         |      FROM gf CROSS JOIN svb CROSS JOIN rvb
         |        JOIN vb va ON va.j = gf.i JOIN vb vc ON vc.j = gf.j),
         |w0 AS (SELECT unnest(range(0, 64)) AS j, CAST(1048576 AS HUGEINT) AS v),
         |${iterD(1, "w0")},
         |${iterD(2, "w1")},
         |${iterD(3, "w2")},
         |dw AS (SELECT d.i, SUM(d.dv * w3.v) AS num
         |       FROM d JOIN w3 ON d.j = w3.j GROUP BY 1),
         |r2 AS (SELECT SUM(w3.v * dw.num) AS wdw FROM w3 JOIN dw ON w3.j = dw.i),
         |s2 AS (SELECT SUM(v * v) AS ww FROM w3),
         |tr2 AS (SELECT SUM(dv) AS traced FROM d WHERE i = j)
         |SELECT CAST(trace AS BIGINT) AS trace,
         |  CAST(CASE WHEN vv = 0 OR trace = 0 THEN 0
         |            ELSE (vgv * 1048576) // (vv * trace) END AS BIGINT) AS top_share_fp,
         |  CAST(CASE WHEN ww = 0 OR traced <= 0 THEN 0
         |            ELSE (wdw * 1048576) // (ww * traced) END AS BIGINT) AS residual_share_fp
         |FROM tr CROSS JOIN r CROSS JOIN s
         |     CROSS JOIN r2 CROSS JOIN s2 CROSS JOIN tr2""".stripMargin
    },
    "q250_winnow_fingerprints" ->
      s"""WITH $winnowOracleCtes,
         |sh AS (SELECT gh, COUNT(DISTINCT doc_id) AS n_docs FROM fp GROUP BY 1)
         |SELECT doc_id, CAST(MAX(g) AS BIGINT) AS n_grams,
         |       CAST(MAX(greatest(g - 3, 1)) AS BIGINT) AS n_windows,
         |       COUNT(*) AS n_fingerprints,
         |       CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fp,
         |       CAST(MAX(n_docs) AS BIGINT) AS max_docs_sharing
         |FROM fp JOIN sh USING (gh) GROUP BY 1""".stripMargin,
    "q255_winnow_source_matrix" ->
      s"""WITH $winnowOracleCtes,
         |sfp AS MATERIALIZED (SELECT DISTINCT d.source AS src, f.gh
         |       FROM fp f JOIN documents d USING (doc_id)),
         |tot AS (SELECT src, COUNT(*) AS n_fp FROM sfp GROUP BY 1),
         |sh AS (SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_shared_fp
         |       FROM sfp a JOIN sfp b ON a.gh = b.gh AND a.src < b.src
         |       GROUP BY 1, 2)
         |SELECT src_a, src_b, CAST(n_shared_fp AS BIGINT) AS n_shared_fp,
         |       CAST(ta.n_fp AS BIGINT) AS n_fp_a,
         |       CAST(tb.n_fp AS BIGINT) AS n_fp_b,
         |       CAST((n_shared_fp * 1048576) //
         |            (ta.n_fp + tb.n_fp - n_shared_fp) AS BIGINT) AS jaccard_fp
         |FROM sh JOIN tot ta ON ta.src = src_a JOIN tot tb ON tb.src = src_b""".stripMargin,
    "q258_shared_runs" ->
      s"""WITH $winnowOracleCtes,
         |prs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |       FROM fp a JOIN fp b ON a.gh = b.gh AND a.doc_id < b.doc_id),
         |m AS (SELECT p.id_a, p.id_b, ga.pos AS pa, gb.pos AS pb
         |      FROM prs p JOIN gr ga ON ga.doc_id = p.id_a
         |        JOIN gr gb ON gb.doc_id = p.id_b AND gb.gh = ga.gh),
         |isl AS (SELECT id_a, id_b, pa - pb AS diag, pa,
         |          pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pa - pb
         |                                  ORDER BY pa) AS grp
         |        FROM m),
         |runs AS (SELECT id_a, id_b, diag, grp, COUNT(*) AS len, MIN(pa) AS sa
         |         FROM isl GROUP BY 1, 2, 3, 4),
         |r2 AS (SELECT id_a, id_b, len, sa, sa - diag AS sb FROM runs),
         |rkp AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a, id_b
         |         ORDER BY len DESC, sa ASC, sb ASC) AS rn FROM r2)
         |SELECT id_a, id_b, COUNT(*) AS n_runs,
         |       CAST(SUM(len) AS BIGINT) AS n_gram_matches,
         |       CAST(MAX(CASE WHEN rn = 1 THEN len END) AS BIGINT) AS longest_run,
         |       CAST(MAX(CASE WHEN rn = 1 THEN len END) + 3 AS BIGINT) AS longest_tokens,
         |       CAST(MAX(CASE WHEN rn = 1 THEN sa END) AS BIGINT) AS start_a,
         |       CAST(MAX(CASE WHEN rn = 1 THEN sb END) AS BIGINT) AS start_b
         |FROM rkp GROUP BY 1, 2""".stripMargin,
    "q259_pair_coverage" ->
      s"""WITH $winnowOracleCtes,
         |prs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |       FROM fp a JOIN fp b ON a.gh = b.gh AND a.doc_id < b.doc_id),
         |m AS MATERIALIZED (SELECT p.id_a, p.id_b, ga.pos AS pa, gb.pos AS pb
         |      FROM prs p JOIN gr ga ON ga.doc_id = p.id_a
         |        JOIN gr gb ON gb.doc_id = p.id_b AND gb.gh = ga.gh),
         |sp AS (SELECT id_a, id_b, 'a' AS side, unnest(range(pa, pa + 4)) AS t FROM m
         |       UNION ALL
         |       SELECT id_a, id_b, 'b' AS side, unnest(range(pb, pb + 4)) AS t FROM m),
         |cv AS (SELECT DISTINCT id_a, id_b, side, t FROM sp),
         |agg AS (SELECT id_a, id_b,
         |          COUNT(CASE WHEN side = 'a' THEN 1 END) AS cov_a,
         |          COUNT(CASE WHEN side = 'b' THEN 1 END) AS cov_b
         |        FROM cv GROUP BY 1, 2),
         |tok AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |        FROM documents)
         |SELECT id_a, id_b, ta.n AS n_tokens_a, tb.n AS n_tokens_b,
         |       CAST(cov_a AS BIGINT) AS cov_tokens_a,
         |       CAST(cov_b AS BIGINT) AS cov_tokens_b,
         |       CAST((cov_a * 1048576) // ta.n AS BIGINT) AS cov_frac_a_fp,
         |       CAST((cov_b * 1048576) // tb.n AS BIGINT) AS cov_frac_b_fp,
         |       CASE WHEN cov_a * 10 >= ta.n * 9 AND cov_b * 10 >= tb.n * 9 THEN 'mutual'
         |            WHEN cov_a * 10 >= ta.n * 9 THEN 'a_in_b'
         |            WHEN cov_b * 10 >= tb.n * 9 THEN 'b_in_a'
         |            ELSE 'partial' END AS verdict
         |FROM agg JOIN tok ta ON ta.doc_id = id_a
         |     JOIN tok tb ON tb.doc_id = id_b""".stripMargin,
    "q251_tokenizer_economics" ->
      """WITH t AS (SELECT source,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS b,
        |         CAST(length(text) AS BIGINT) AS c,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
        |         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe
        |       FROM documents),
        |a AS (SELECT source, COUNT(*) AS n_docs,
        |             CAST(SUM(b) AS BIGINT) AS total_bytes,
        |             CAST(SUM(c) AS BIGINT) AS total_chars,
        |             CAST(SUM(ws) AS BIGINT) AS total_ws_tokens,
        |             CAST(SUM(bpe) AS BIGINT) AS total_bpe_tokens
        |      FROM t GROUP BY 1)
        |SELECT source, n_docs, total_bytes, total_chars, total_ws_tokens,
        |       total_bpe_tokens,
        |       CAST(CASE WHEN total_bpe_tokens = 0 THEN 0
        |                 ELSE (total_bytes * 1048576) // total_bpe_tokens
        |            END AS BIGINT) AS bytes_per_token_fp,
        |       CAST(CASE WHEN total_bpe_tokens = 0 THEN 0
        |                 ELSE (total_chars * 1048576) // total_bpe_tokens
        |            END AS BIGINT) AS chars_per_token_fp,
        |       CAST(CASE WHEN total_ws_tokens = 0 THEN 0
        |                 ELSE (total_bpe_tokens * 1048576) // total_ws_tokens
        |            END AS BIGINT) AS fertility_fp
        |FROM a""".stripMargin,
    "q68_zorder" ->
      s"""SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey,
         |  ${graft.ops.Layout.zValueSql(Seq("l_suppkey", "l_partkey"), 16)} AS zval
         |FROM lineitem""".stripMargin,
    "q71_sequence_packing" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS w
        |           FROM documents),
        |c AS (SELECT doc_id, w,
        |             SUM(w) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t),
        |b AS (SELECT CAST((cum - w) // 512 AS BIGINT) AS bin, w FROM c)
        |SELECT bin, COUNT(*) AS n_docs,
        |       CAST(SUM(w) AS BIGINT) AS total_tokens,
        |       CAST(SUM(w) AS DOUBLE) / 512.0 AS fill_ratio
        |FROM b GROUP BY bin""".stripMargin,
    "q246_packing_curve" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS w
        |           FROM documents),
        |c AS (SELECT doc_id, w,
        |             SUM(w) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t),
        |x AS (SELECT w, cum,
        |             unnest([512, 1024, 2048, 4096, 8192]) AS capacity
        |      FROM c),
        |b AS (SELECT capacity, w,
        |             CASE WHEN w > 0
        |                  THEN (cum - 1) // capacity - (cum - w) // capacity
        |                  ELSE 0 END AS splits
        |      FROM x),
        |g AS (SELECT capacity, COUNT(*) AS n_docs, SUM(w) AS total_tokens,
        |             SUM(CASE WHEN splits > 0 THEN 1 ELSE 0 END) AS n_straddle,
        |             SUM(splits) AS n_splits
        |      FROM b GROUP BY 1),
        |f AS (SELECT *, CASE WHEN total_tokens > 0
        |                     THEN (total_tokens - 1) // capacity + 1
        |                     ELSE 0 END AS n_bins
        |      FROM g)
        |SELECT CAST(capacity AS BIGINT) AS capacity,
        |       CAST(n_bins AS BIGINT) AS n_bins,
        |       CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_straddle AS BIGINT) AS n_straddle,
        |       CAST(n_splits AS BIGINT) AS n_splits,
        |       CAST(total_tokens AS BIGINT) AS total_tokens,
        |       CAST(n_bins * capacity - total_tokens AS BIGINT) AS wasted_tokens,
        |       CAST(CASE WHEN n_bins > 0
        |                 THEN (total_tokens * 1048576) // (n_bins * capacity)
        |                 ELSE 0 END AS BIGINT) AS fill_fp
        |FROM f""".stripMargin,
    "q72_pii_redact" -> {
      import graft.ext.Redaction
      val steps = Redaction.defaultRules.zipWithIndex.map { case (r, i) =>
        s"""r${i + 1} AS (SELECT * EXCLUDE (s),
           |  ${Redaction.matchCountSql("s", r)} AS n_${r.name},
           |  ${Redaction.redactSql("s", r)} AS s
           |FROM r$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH r0 AS (SELECT c_custkey,
         |  c_name || ' bal ' ||
         |  CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS VARCHAR) AS s
         |FROM customer),
         |$steps
         |SELECT c_custkey, n_email, n_phone, n_ipv4, n_number, s AS redacted
         |FROM r${Redaction.defaultRules.size}""".stripMargin
    },
    "q108_quality_thin" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      val quality =
        s"""LEAST(GREATEST(
           |    (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
           |    LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
           |    LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0)""".stripMargin
      s"""WITH q AS (SELECT doc_id, lang, $quality AS quality FROM documents)
         |SELECT doc_id, lang, ROUND(quality, 6) AS quality FROM q
         |WHERE ${dkHash("CAST(doc_id AS VARCHAR)", 0)} % 1000000
         |      < CAST(floor(quality * 1000000.0) AS BIGINT)""".stripMargin
    },
    "q126_lang_confusion" -> {
      val entries = graft.ext.TextAnalysis.langMarkers.zipWithIndex.map { case ((l, _), i) =>
        s"struct_pack(ns := -(${dkLangScore(l)}), i := $i, l := '$l')"
      }.mkString(",\n    ")
      s"""WITH s AS (SELECT doc_id, list_sort([
         |    $entries]) AS a FROM documents)
         |SELECT doc_id,
         |  CASE WHEN a[1].ns < 0 THEN a[1].l ELSE 'und' END AS lang_top,
         |  CASE WHEN a[2].ns < 0 THEN a[2].l ELSE 'und' END AS lang_second,
         |  CAST(-a[1].ns AS BIGINT) AS score_top,
         |  CAST(-a[2].ns AS BIGINT) AS score_second,
         |  CAST(a[2].ns - a[1].ns AS BIGINT) AS margin,
         |  a[2].ns < 0 AS is_mixed
         |FROM s""".stripMargin
    },
    "q127_topk_per_source" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      s"""WITH s AS (SELECT source, doc_id,
         |  CAST(floor(LEAST(GREATEST(
         |    (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |    LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |    LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0) * 1000000.0) AS BIGINT)
         |    AS score
         |FROM documents),
         |r AS (SELECT source, doc_id, score,
         |  ROW_NUMBER() OVER (PARTITION BY source
         |                     ORDER BY score DESC, doc_id ASC) AS rk
         |FROM s)
         |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, score
         |FROM r WHERE rk <= 5""".stripMargin
    },
    "q128_coverage_gaps" ->
      """WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS tus, event_id FROM events),
        |w AS (SELECT user_id, tus,
        |        lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
        |      FROM e)
        |SELECT user_id, prev AS gap_start_us, tus AS gap_end_us, tus - prev AS gap_us
        |FROM w WHERE prev IS NOT NULL AND tus - prev >= 21600000000""".stripMargin,
    "q129_coverage_summary" ->
      """WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS tus, event_id FROM events),
        |w AS (SELECT user_id, tus,
        |        lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
        |      FROM e)
        |SELECT user_id, MIN(tus) AS first_us, MAX(tus) AS last_us,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CASE WHEN prev IS NOT NULL AND tus - prev >= 21600000000
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |       CAST(SUM(CASE WHEN prev IS NOT NULL AND tus - prev >= 21600000000
        |                     THEN tus - prev ELSE 0 END) AS BIGINT) AS uncovered_us,
        |       MAX(tus) - MIN(tus) AS span_us
        |FROM w GROUP BY user_id""".stripMargin,
    "q130_pagerank" -> {
      val scale = 1000000000000L
      val iterCtes = (1 to 3).map { i =>
        s"""c$i AS (SELECT e.dst AS node, SUM((r.r * e.w) // o.wout) AS s
           |  FROM ec e
           |  JOIN r${i - 1} r ON r.node = e.src
           |  JOIN ow o ON o.src = e.src
           |  GROUP BY 1),
           |r$i AS (SELECT nodes.node,
           |    ((15 * $scale) // (100 * (SELECT n FROM cnt)))
           |    + (85 * COALESCE(c$i.s, 0)) // 100 AS r
           |  FROM nodes LEFT JOIN c$i ON c$i.node = nodes.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS (
         |  SELECT event_type AS src,
         |         LEAD(event_type) OVER (PARTITION BY user_id
         |                                ORDER BY ts, event_id) AS dst
         |  FROM events),
         |ec AS (SELECT src, dst, COUNT(*) AS w
         |       FROM p WHERE dst IS NOT NULL GROUP BY 1, 2),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM ec UNION ALL SELECT dst FROM ec)),
         |cnt AS (SELECT COUNT(*) AS n FROM nodes),
         |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM ec GROUP BY 1),
         |r0 AS (SELECT node, $scale // (SELECT n FROM cnt) AS r FROM nodes),
         |$iterCtes
         |SELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r3""".stripMargin
    },
    "q131_fuzzy_decontaminate" -> {
      val mins = (0 until 16).map(i => s"MIN(${dkMinhash("hb", i)}) AS mh$i").mkString(",\n  ")
      val bandUnion = (0 until 4).map { b =>
        s"SELECT id, $b AS band_idx, md5(concat_ws('|', mh${4 * b}, mh${4 * b + 1}, mh${4 * b + 2}, mh${4 * b + 3})) AS band_hash FROM mh"
      }.mkString("\n    UNION ALL ")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
         |s0 AS (SELECT doc_id AS id, $dkShingles AS sh FROM t),
         |s AS (SELECT id, unnest(sh) AS shingle FROM s0),
         |hb AS (SELECT id, ${dkHash("shingle", 0)} % ${graft.ext.Dedup.HashP} AS hb FROM s),
         |mh AS (SELECT id, $mins FROM hb GROUP BY id),
         |bands AS ($bandUnion),
         |cand AS (SELECT DISTINCT c.id AS corpus_id, b.id AS bench_id
         |         FROM bands c JOIN bands b ON c.band_idx = b.band_idx
         |          AND c.band_hash = b.band_hash
         |         WHERE c.id % 7 <> 0 AND b.id % 7 = 0),
         |sizes AS (SELECT id, COUNT(*) AS n FROM s GROUP BY id),
         |c AS (SELECT a.id AS corpus_id, b.id AS bench_id, COUNT(*) AS common
         |      FROM s a JOIN s b USING (shingle)
         |      WHERE a.id % 7 <> 0 AND b.id % 7 = 0 GROUP BY 1, 2),
         |cc AS (SELECT c.* FROM c SEMI JOIN cand USING (corpus_id, bench_id))
         |SELECT corpus_id, bench_id, common, na.n AS n_a, nb.n AS n_b,
         |       CAST(common AS DOUBLE) / (na.n + nb.n - common) AS jaccard
         |FROM cc JOIN sizes na ON na.id = corpus_id JOIN sizes nb ON nb.id = bench_id
         |WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= 0.4""".stripMargin
    },
    "q124_bpe_train" ->
      s"""WITH $bpeTrainCtes
         |SELECT 1 AS iteration, pair, c AS pair_count FROM t1
         |UNION ALL SELECT 2, pair, c FROM t2
         |UNION ALL SELECT 3, pair, c FROM t3
         |UNION ALL SELECT 4, pair, c FROM t4""".stripMargin,
    "q125_bpe_tokenize" ->
      s"""WITH $bpeTrainCtes,
         |dw AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
         |d0 AS (SELECT doc_id,
         |         '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS sp
         |       FROM dw WHERE length(word) > 0),
         |${(1 to 4).map(i =>
           s"""d$i AS (SELECT doc_id, replace(sp,
              |    ' ' || replace((SELECT pair FROM t$i), ' ', '  ') || ' ',
              |    ' ' || replace((SELECT pair FROM t$i), ' ', '') || ' ') AS sp FROM d${i - 1})""".stripMargin)
           .mkString(",\n")}
         |SELECT doc_id,
         |       CAST(SUM(len(string_split(trim(replace(sp, '  ', ' ')), ' '))) AS BIGINT)
         |         AS n_bpe_tokens,
         |       COUNT(*) AS n_words
         |FROM d4 GROUP BY doc_id""".stripMargin,
    "q123_composite_keys" -> {
      val pairs = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        .combinations(2).toSeq
      pairs.map { case Seq(a, b) =>
        val k = s"($a, $b)" // tuple: null fields compare equal, tuple itself non-null
        s"""SELECT 'lineitem' AS table_name, '$a' AS col_a, '$b' AS col_b,
           |       CAST(COUNT(*) AS BIGINT) AS n_rows,
           |       CAST(COUNT(DISTINCT $k) AS BIGINT) AS n_distinct,
           |       COUNT(DISTINCT $k) = COUNT(*) AS is_key
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL ")
    },
    "q122_numeric_drift" ->
      s"""WITH src AS (SELECT o_totalprice,
         |    ${dkHash("CAST(o_orderkey AS VARCHAR)", 0)} % 100 AS hb FROM orders),
         |bk AS (SELECT hb,
         |    CAST(LEAST(GREATEST(floor((CAST(o_totalprice AS DOUBLE) - 0.0) / 10000.0),
         |                        0.0), 49.0) AS BIGINT) AS key
         |  FROM src WHERE o_totalprice IS NOT NULL),
         |r AS (SELECT key, COUNT(*) AS n_ref FROM bk WHERE hb < 80 GROUP BY 1),
         |c AS (SELECT key, COUNT(*) AS n_cur FROM bk WHERE hb >= 20 GROUP BY 1),
         |j AS (SELECT COALESCE(r.key, c.key) AS key,
         |             COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
         |      FROM r FULL OUTER JOIN c ON r.key = c.key),
         |t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM j)
         |SELECT key, n_ref, n_cur,
         |       ROUND(CAST(n_ref AS DOUBLE) / t_ref, 6) AS share_ref,
         |       ROUND(CAST(n_cur AS DOUBLE) / t_cur, 6) AS share_cur,
         |       CAST(abs(CAST(n_ref AS HUGEINT) * t_cur
         |                - CAST(n_cur AS HUGEINT) * t_ref) AS BIGINT) AS drift_num
         |FROM j CROSS JOIN t""".stripMargin,
    "q121_key_skew" ->
      """WITH c AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS x
        |           FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |v AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS m FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(m) AS BIGINT) AS n_keys,
        |             CAST(SUM(x * m) AS BIGINT) AS n_rows,
        |             CAST(MAX(x) AS BIGINT) AS max_key_rows
        |      FROM v),
        |w AS (SELECT x, m,
        |        COALESCE(SUM(m) OVER (ORDER BY x
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
        |      FROM v),
        |g AS (SELECT CAST(SUM(CAST(x AS HUGEINT) * m *
        |               (2 * s + m - (SELECT n_keys FROM t))) AS BIGINT) AS gnum
        |      FROM w)
        |SELECT n_keys, n_rows, max_key_rows,
        |       CAST(max_key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top_share,
        |       CAST(gnum AS DOUBLE)
        |         / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE)) AS gini
        |FROM t CROSS JOIN g""".stripMargin,
    "q119_cooccurrence" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |               FROM lineitem
        |               WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sized AS (SELECT basket, item FROM (
        |            SELECT *, COUNT(*) OVER (PARTITION BY basket) AS bsize FROM items)
        |          WHERE bsize <= 1000)
        |SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS support
        |FROM sized a JOIN sized b ON a.basket = b.basket AND a.item < b.item
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin,
    "q120_cohort_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id AS u,
        |              CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week
        |            FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT u, MIN(week) AS cohort_week FROM uw GROUP BY 1),
        |j AS (SELECT uw.u, c.cohort_week, uw.week - c.cohort_week AS week_offset
        |      FROM uw JOIN c USING (u)),
        |n AS (SELECT cohort_week, week_offset,
        |        CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users
        |      FROM j GROUP BY 1, 2),
        |s AS (SELECT cohort_week, n_users AS cohort_size FROM n WHERE week_offset = 0)
        |SELECT n.cohort_week, n.week_offset, n.n_users, s.cohort_size,
        |       CAST(n.n_users AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
        |FROM n JOIN s USING (cohort_week)""".stripMargin,
    "q117_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        |w AS (SELECT *,
        |        CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
        |                  OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |                     > 1800000000
        |             THEN 1 ELSE 0 END AS is_new
        |      FROM e),
        |s AS (SELECT user_id, event_id, event_type, ts_us,
        |        SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS session_idx
        |      FROM w),
        |g AS (SELECT user_id, session_idx,
        |        list_sort(list(struct_pack(ts_us := ts_us, event_id := event_id,
        |                                   event_type := event_type))) AS evs
        |      FROM s GROUP BY 1, 2),
        |p AS (SELECT array_to_string(
        |               list_transform(evs[1:5], x -> x.event_type), '>') AS path
        |      FROM g)
        |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin,
    "q118_dup_graph_census" ->
      s"""WITH np AS (SELECT id_a, id_b FROM ($nearDupOracle)),
         |e AS (SELECT DISTINCT LEAST(id_a, id_b) AS a, GREATEST(id_a, id_b) AS b
         |      FROM np WHERE id_a <> id_b),
         |deg AS (SELECT v, COUNT(*) AS d
         |        FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |tri AS (SELECT COUNT(*) AS t
         |        FROM e e1 JOIN e e2 ON e2.a = e1.b
         |        WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
         |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |               CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
         |        FROM deg),
         |ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
         |SELECT n_nodes, n_edges, CAST(t AS BIGINT) AS n_triangles, n_wedges,
         |       CASE WHEN n_wedges = 0 THEN 0.0
         |            ELSE CAST(t * 3 AS DOUBLE) / CAST(n_wedges AS DOUBLE) END AS clustering
         |FROM ec CROSS JOIN agg CROSS JOIN tri""".stripMargin,
    "q116_quota_admission" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      val quality =
        s"""LEAST(GREATEST(
           |    (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
           |    LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
           |    LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0)""".stripMargin
      s"""WITH d AS (SELECT doc_id, source, $quality AS quality FROM documents
         |           WHERE source IN ('src0', 'src1', 'src2') OR doc_id % 5 = 0),
         |r AS (SELECT doc_id, source, quality,
         |        ROW_NUMBER() OVER (PARTITION BY source
         |          ORDER BY quality DESC, doc_id ASC) AS rk
         |      FROM d),
         |adm AS (SELECT doc_id, source, rk FROM r WHERE rk <= 10),
         |l AS (SELECT 10 * (SELECT COUNT(DISTINCT source) FROM d)
         |             - (SELECT COUNT(*) FROM adm) AS lv),
         |g AS (SELECT doc_id, source, rk,
         |        ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id ASC) AS grk
         |      FROM r WHERE rk > 10),
         |bf AS (SELECT doc_id, source, rk FROM g CROSS JOIN l WHERE grk <= lv)
         |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk,
         |       'quota' AS admitted_via FROM adm
         |UNION ALL
         |SELECT doc_id, source, CAST(rk AS BIGINT), 'backfill' FROM bf""".stripMargin
    },
    "q115_dataset_card" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      val quality =
        s"""LEAST(GREATEST(
           |    (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
           |    LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
           |    LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0)""".stripMargin
      s"""WITH e AS (SELECT lang, source, length(text) AS nc, $nt AS ntk,
         |             md5(text) AS dg,
         |             CAST(floor(($quality) * 1000000.0) AS BIGINT) AS q6
         |           FROM documents),
         |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |             CAST(SUM(ntk) AS BIGINT) AS total_tokens,
         |             CAST(SUM(nc) AS BIGINT) AS total_chars,
         |             CAST(COUNT(*) - COUNT(DISTINCT dg) AS BIGINT) AS dup_docs,
         |             CAST(SUM(q6) AS BIGINT) AS sq6
         |      FROM e),
         |tl AS (SELECT lang AS top_lang FROM e GROUP BY lang
         |       ORDER BY COUNT(*) DESC, lang ASC LIMIT 1)
         |SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value_num,
         |       CAST(NULL AS VARCHAR) AS value_str FROM a
         |UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE), NULL FROM a
         |UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE), NULL FROM a
         |UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE), NULL FROM a
         |UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE), NULL FROM a
         |UNION ALL SELECT 'dup_docs', CAST(dup_docs AS DOUBLE), NULL FROM a
         |UNION ALL SELECT 'exact_dup_rate',
         |                 CAST(dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), NULL FROM a
         |UNION ALL SELECT 'mean_quality_e6', CAST(sq6 // n_docs AS DOUBLE), NULL FROM a
         |UNION ALL SELECT 'top_lang', CAST(NULL AS DOUBLE), top_lang FROM tl""".stripMargin
    },
    "q114_rate_anomalies" ->
      """WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |              CAST(COUNT(*) AS BIGINT) AS n_events
        |            FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, hour, n_events,
        |        list_sort(list(n_events) OVER (PARTITION BY event_type ORDER BY hour
        |          ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) AS arr
        |      FROM hc),
        |m AS (SELECT *, len(arr) AS nw,
        |        arr[(len(arr)+1)//2] + arr[(len(arr)+2)//2] AS med2
        |      FROM w),
        |f AS (SELECT *,
        |        list_sort(list_transform(arr, e -> abs(e*2 - med2)))[(nw+1)//2]
        |        + list_sort(list_transform(arr, e -> abs(e*2 - med2)))[(nw+2)//2] AS mad4
        |      FROM m)
        |SELECT event_type, hour, n_events,
        |       CAST(med2 AS DOUBLE) / 2.0 AS median,
        |       CAST(mad4 AS DOUBLE) / 4.0 AS mad,
        |       (nw >= 12 AND abs(n_events*2 - med2)*2 > 3*mad4) AS is_anomaly
        |FROM f""".stripMargin,
    "q113_group_quantiles" ->
      """WITH b AS (SELECT lang,
        |    CAST(LEAST(GREATEST(floor((CAST(n_chars AS DOUBLE) - 0.0) / 64.0),
        |                        0.0), 31.0) AS INT) AS bucket
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |h AS (SELECT lang, bucket,
        |        0.0 + CAST(bucket AS DOUBLE) * 64.0 AS lo_v,
        |        0.0 + CAST(bucket + 1 AS DOUBLE) * 64.0 AS hi_v,
        |        COUNT(*) AS n
        |      FROM b GROUP BY lang, bucket),
        |c AS (SELECT *,
        |        SUM(n) OVER (PARTITION BY lang ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        SUM(n) OVER (PARTITION BY lang ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS cum_before,
        |        SUM(n) OVER (PARTITION BY lang) AS total
        |      FROM h),
        |q AS (SELECT unnest([0.5, 0.9, 0.99]) AS p)
        |SELECT lang, p, bucket,
        |       CAST(ceil(p * CAST(total AS DOUBLE)) AS BIGINT) AS rnk,
        |       lo_v + (CAST(CAST(ceil(p * CAST(total AS DOUBLE)) AS BIGINT) - cum_before AS DOUBLE)
        |               / CAST(n AS DOUBLE)) * (hi_v - lo_v) AS est
        |FROM q, c
        |WHERE cum >= CAST(ceil(p * CAST(total AS DOUBLE)) AS BIGINT)
        |  AND cum_before < CAST(ceil(p * CAST(total AS DOUBLE)) AS BIGINT)""".stripMargin,
    "q112_transition_matrix" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |         LEAD(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, t.n_from,
        |       CAST(c.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS prob
        |FROM c JOIN t USING (from_type)""".stripMargin,
    "q111_temperature_mix" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      val quality =
        s"""LEAST(GREATEST(
           |    (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
           |    LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
           |    LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0)""".stripMargin
      s"""WITH d AS (SELECT doc_id, source, $quality AS quality FROM documents
         |           WHERE source IN ('src0', 'src1', 'src2') OR doc_id % 5 = 0),
         |n AS (SELECT source, COUNT(*) AS n FROM d GROUP BY 1),
         |w AS (SELECT source, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT) AS w
         |      FROM n),
         |t AS (SELECT SUM(w) AS tw FROM w),
         |b AS (SELECT source, CAST((60 * w) // tw AS BIGINT) AS src_budget
         |      FROM w CROSS JOIN t),
         |r AS (SELECT doc_id, source,
         |             ROW_NUMBER() OVER (PARTITION BY source
         |               ORDER BY quality DESC, doc_id ASC) AS rk
         |      FROM d)
         |SELECT r.doc_id, r.source, r.rk, b.src_budget
         |FROM r JOIN b USING (source) WHERE r.rk <= b.src_budget""".stripMargin
    },
    "q110_fuzzy_join" ->
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM n a JOIN n b
        |  ON (length(a.name) < length(b.name)
        |      OR (length(a.name) = length(b.name) AND a.name < b.name))
        |WHERE levenshtein(a.name, b.name) <= 2""".stripMargin,
    "q109_dup_matrix" ->
      s"""WITH np AS (SELECT id_a, id_b FROM ($nearDupOracle)),
         |s AS (SELECT doc_id, source FROM documents)
         |SELECT LEAST(sa.source, sb.source) AS source_a,
         |       GREATEST(sa.source, sb.source) AS source_b,
         |       COUNT(*) AS n_dup_pairs
         |FROM np JOIN s sa ON sa.doc_id = np.id_a
         |        JOIN s sb ON sb.doc_id = np.id_b
         |GROUP BY 1, 2""".stripMargin,
    "q107_drift_summary" ->
      s"""WITH base AS (SELECT lang,
         |    ${dkHash("CAST(doc_id AS VARCHAR)", 0)} % 100 AS b FROM documents),
         |r AS (SELECT lang AS key, COUNT(*) AS n_ref FROM base WHERE b < 80 GROUP BY 1),
         |c AS (SELECT lang AS key, COUNT(*) AS n_cur FROM base WHERE b >= 20 GROUP BY 1),
         |j AS (SELECT COALESCE(r.key, c.key) AS key,
         |             COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
         |      FROM r FULL OUTER JOIN c ON r.key = c.key),
         |t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM j),
         |d AS (SELECT key, n_ref, n_cur,
         |             abs(CAST(n_ref AS HUGEINT) * t_cur
         |                 - CAST(n_cur AS HUGEINT) * t_ref) AS drift_num
         |      FROM j CROSS JOIN t),
         |w AS (SELECT key AS worst_key, CAST(drift_num AS BIGINT) AS worst_drift_num
         |      FROM d ORDER BY drift_num DESC, key ASC LIMIT 1)
         |SELECT COUNT(*) AS n_keys,
         |       ROUND(CAST(SUM(drift_num) AS DOUBLE)
         |             / (2.0 * CAST(SUM(n_ref) AS DOUBLE) * CAST(SUM(n_cur) AS DOUBLE)),
         |             6) AS tvd,
         |       MAX(worst_key) AS worst_key,
         |       MAX(worst_drift_num) AS worst_drift_num
         |FROM d CROSS JOIN w""".stripMargin,
    "q106_hll_by_group" ->
      s"""WITH h AS (SELECT event_type,
         |            ${dkHash("CAST(user_id AS VARCHAR)", 17)} AS h FROM events),
         |b AS (SELECT event_type, h % 64 AS bucket, h // 64 AS rest FROM h),
         |z AS (SELECT event_type, bucket,
         |             least(length(bin(rest)) - length(rtrim(bin(rest), '0')) + 1, 55) AS rho
         |      FROM b),
         |r AS (SELECT event_type, bucket, MAX(rho) AS max_rho FROM z GROUP BY 1, 2),
         |s AS (SELECT event_type, COUNT(*) AS present,
         |             SUM(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INT)) AS si
         |      FROM r GROUP BY 1),
         |e AS (SELECT event_type,
         |             CAST(64 - present AS BIGINT) AS n_zero_registers,
         |             ROUND((0.709 * 64 * 64) * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
         |                   / CAST(si + (64 - present) * (CAST(1 AS BIGINT) << 55) AS DOUBLE),
         |                   4) AS raw_estimate
         |      FROM s),
         |x AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
         |      FROM events GROUP BY 1)
         |SELECT e.event_type, n_zero_registers, raw_estimate, exact_distinct
         |FROM e JOIN x USING (event_type)""".stripMargin,
    "q105_expectations" ->
      """WITH a AS (SELECT
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        |  CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v1,
        |  CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
        |                 AND (CAST(o_totalprice AS DOUBLE) < 0.0
        |                      OR CAST(o_totalprice AS DOUBLE) > 400000.0)
        |            THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |  CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
        |                 AND NOT regexp_full_match(o_orderpriority, '(?:[1-5]-[A-Z ]+)')
        |            THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |  GREATEST(CAST(0 AS BIGINT), 1000 - COUNT(*)) AS v4
        |FROM orders)
        |SELECT 'not_null' AS rule, 'o_custkey' AS column, v0 AS violations, v0 = 0 AS passed FROM a
        |UNION ALL SELECT 'unique', 'o_orderkey', v1, v1 = 0 FROM a
        |UNION ALL SELECT 'in_range', 'o_totalprice', v2, v2 = 0 FROM a
        |UNION ALL SELECT 'matches', 'o_orderpriority', v3, v3 = 0 FROM a
        |UNION ALL SELECT 'min_rows', '*', v4, v4 = 0 FROM a""".stripMargin,
    "q104_schema_diff" -> {
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      val raw = tables.map(t =>
        s"SELECT '$t' AS t, lower(column_name) AS c, column_type AS ty FROM (DESCRIBE $t)")
        .mkString("\n    UNION ALL ")
      s"""WITH raw AS (
         |    $raw),
    |cat AS (
         |  SELECT t AS table_name, c AS column_name,
         |         CASE
         |           WHEN replace(lower(ty), '[]', '') = 'varchar' THEN 'string'
         |           WHEN replace(lower(ty), '[]', '') = 'blob' THEN 'binary'
         |           ELSE replace(lower(ty), '[]', '') END AS dt
         |  FROM raw),
         |b AS (SELECT table_name, column_name,
         |        CASE WHEN table_name = 'customer' AND column_name = 'c_acctbal'
         |             THEN 'decimal(12,2)' ELSE dt END AS dt
         |      FROM cat
         |      WHERE table_name <> 'events'
         |        AND NOT (table_name = 'lineitem' AND column_name = 'l_tax')
         |      UNION ALL SELECT 'documents', 'quality_score', 'double'),
         |j AS (SELECT COALESCE(a.table_name, b.table_name) AS table_name,
         |             COALESCE(a.column_name, b.column_name) AS column_name,
         |             a.dt AS type_old, b.dt AS type_new
         |      FROM cat a FULL OUTER JOIN b
         |        ON a.table_name = b.table_name AND a.column_name = b.column_name)
         |SELECT table_name, column_name,
         |       CASE WHEN type_old IS NULL THEN 'added'
         |            WHEN type_new IS NULL THEN 'removed'
         |            WHEN type_old <> type_new THEN 'type_changed'
         |            ELSE 'unchanged' END AS status,
         |       COALESCE(type_old, '') AS type_old,
         |       COALESCE(type_new, '') AS type_new
         |FROM j""".stripMargin
    },
    "q136_ewma_rates" -> {
      val terms = (0 until 8).map { j =>
        s"COALESCE(lag(n_events, $j) OVER (PARTITION BY event_type ORDER BY hour), 0) * ${1L << (7 - j)}"
      }.mkString(" + ")
      s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
         |             COUNT(*) AS n_events
         |           FROM events GROUP BY 1, 2),
         |e AS (SELECT event_type, hour, n_events, $terms AS ewma_num FROM h)
         |SELECT event_type, hour, n_events,
         |       CAST(ewma_num AS BIGINT) AS ewma_num,
         |       CAST(ewma_num // 255 AS BIGINT) AS smoothed
         |FROM e""".stripMargin
    },
    "q137_strip_boilerplate" ->
      """WITH c AS (SELECT source, substr(text, 1, 32) AS prefix, COUNT(*) AS n_docs
        |           FROM documents GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |top1 AS (SELECT source, prefix FROM (
        |           SELECT source, prefix,
        |             ROW_NUMBER() OVER (PARTITION BY source
        |                                ORDER BY n_docs DESC, prefix ASC) AS rk
        |           FROM c) WHERE rk = 1)
        |SELECT d.doc_id, d.source,
        |       t.prefix IS NOT NULL AND starts_with(d.text, t.prefix) AS stripped,
        |       CASE WHEN t.prefix IS NOT NULL AND starts_with(d.text, t.prefix)
        |            THEN substr(d.text, 33) ELSE d.text END AS text_clean
        |FROM documents d LEFT JOIN top1 t ON t.source = d.source""".stripMargin,
    "q139_functional_deps" -> {
      val candidates = Seq("l_orderkey", "l_suppkey", "l_returnflag", "l_linestatus")
      val pairs = candidates.combinations(2).toSeq
      pairs.flatMap { case Seq(pa, pb) => Seq((pa, pb), (pb, pa)) }
        .map { case (det, dep) =>
          val Seq(pa, pb) = // the pair distinct is keyed in candidate order
            Seq(det, dep).sortBy(candidates.indexOf)
          s"""SELECT 'lineitem' AS table_name,
             |       '$det' AS determinant, '$dep' AS dependent,
             |       CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(COUNT(DISTINCT ROW($det)) AS BIGINT) AS n_det,
             |       CAST(COUNT(DISTINCT ROW($pa, $pb)) AS BIGINT) AS n_pair,
             |       COUNT(DISTINCT ROW($det)) = COUNT(DISTINCT ROW($pa, $pb)) AS holds
             |FROM lineitem""".stripMargin
        }.mkString("\nUNION ALL ")
    },
    "q140_canonical_dedup" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS canon_hash,
        |       MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
        |       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_raw_variants
        |FROM documents GROUP BY 1""".stripMargin,
    "q141_importance_select" ->
      s"""WITH b AS (SELECT doc_id, source,
         |             ${dkHash("word", 7)} % 64 AS bucket
         |           FROM (SELECT doc_id, source,
         |                   unnest(string_split(text, ' ')) AS word
         |                 FROM documents)),
         |t AS (SELECT bucket, COUNT(*) AS t_f FROM b
         |      WHERE source = 'src0' GROUP BY 1),
         |r AS (SELECT bucket, COUNT(*) AS r_f FROM b
         |      WHERE source <> 'src0' GROUP BY 1),
         |wt AS (SELECT COALESCE(t.bucket, r.bucket) AS bucket,
         |              ((COALESCE(t_f, 0) + 1) * 1048576)
         |                // (COALESCE(r_f, 0) + 1) AS wgt
         |       FROM t FULL OUTER JOIN r ON t.bucket = r.bucket)
         |SELECT b.doc_id, COUNT(*) AS n_tokens,
         |       CAST(SUM(wgt) AS BIGINT) AS score
         |FROM b JOIN wt USING (bucket) WHERE source <> 'src0'
         |GROUP BY 1 ORDER BY score DESC, doc_id ASC LIMIT 50""".stripMargin,
    "q142_fuzzy_linkage" ->
      s"""WITH p AS (SELECT p_name,
         |             ${dkHash("CAST(p_partkey AS VARCHAR)", 11)} % 100 AS hb
         |           FROM part WHERE p_name IS NOT NULL),
         |l AS (SELECT DISTINCT p_name AS name_l FROM p WHERE hb < 50),
         |r AS (SELECT DISTINCT p_name AS name_r FROM p WHERE hb >= 50)
         |SELECT name_l, name_r,
         |       CAST(levenshtein(name_l, name_r) AS BIGINT) AS dist
         |FROM l CROSS JOIN r WHERE levenshtein(name_l, name_r) <= 2""".stripMargin,
    "q143_hll_setops" -> {
      val big = "(CAST(1 AS BIGINT) << 55)"
      def est(t: String) =
        s"""((0.709 * 64 * 64) * CAST($big AS DOUBLE)
           | / CAST(si_$t + (64 - present_$t) * $big AS DOUBLE))""".stripMargin
      s"""WITH h AS (SELECT event_type,
         |            ${dkHash("CAST(user_id AS VARCHAR)", 17)} AS h FROM events
         |           WHERE event_type IN ('click', 'purchase')),
         |z AS (SELECT event_type, h % 64 AS bucket,
         |             least(length(bin(h // 64))
         |                   - length(rtrim(bin(h // 64), '0')) + 1, 55) AS rho
         |      FROM h),
         |r AS (SELECT event_type, bucket, MAX(rho) AS max_rho FROM z GROUP BY 1, 2),
         |sa AS (SELECT COUNT(*) AS present_a,
         |              SUM(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INT)) AS si_a
         |       FROM r WHERE event_type = 'click'),
         |sb AS (SELECT COUNT(*) AS present_b,
         |              SUM(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INT)) AS si_b
         |       FROM r WHERE event_type = 'purchase'),
         |ru AS (SELECT bucket, MAX(max_rho) AS max_rho FROM r GROUP BY 1),
         |su AS (SELECT COUNT(*) AS present_u,
         |              SUM(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INT)) AS si_u
         |       FROM ru)
         |SELECT ROUND(${est("a")}, 4) AS est_a,
         |       ROUND(${est("b")}, 4) AS est_b,
         |       ROUND(${est("u")}, 4) AS est_union,
         |       ROUND(GREATEST(0.0, ${est("a")} + ${est("b")} - ${est("u")}), 4)
         |         AS est_intersection,
         |       ROUND(GREATEST(0.0, ${est("a")} + ${est("b")} - ${est("u")})
         |             / ${est("u")}, 4) AS jaccard_est
         |FROM sa CROSS JOIN sb CROSS JOIN su""".stripMargin
    },
    "q144_repeated_spans" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |s AS (SELECT doc_id, unnest(
         |        CASE WHEN len(l) < 8 THEN [array_to_string(l, ' ')]
         |             ELSE list_distinct(list_transform(range(1, len(l) - 6),
         |                    i -> array_to_string(l[i:i+7], ' ')))
         |        END) AS span FROM t),
         |g AS (SELECT span, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc,
         |             ${dkHash("span", 5)} AS h
         |      FROM s GROUP BY span)
         |SELECT span, n_docs, first_doc FROM g
         |WHERE n_docs >= 2 ORDER BY n_docs DESC, h ASC LIMIT 20""".stripMargin,
    "q145_scd2_upsert" ->
      """WITH log AS (
        |  SELECT user_id, ts, max_by(event_type, event_id) AS state
        |  FROM events GROUP BY 1, 2),
        |flagged AS (
        |  SELECT user_id, ts, state,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
        |         lag(state) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM log),
        |changes AS (
        |  SELECT user_id, ts, state FROM flagged
        |  WHERE rn = 1 OR prev IS DISTINCT FROM state)
        |SELECT user_id, state,
        |       ts AS effective_from,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS effective_to,
        |       row_number() OVER (PARTITION BY user_id ORDER BY ts) AS version,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
        |FROM changes""".stripMargin,
    "q146_forward_fill" ->
      """WITH s AS (SELECT event_type,
        |             (CAST(epoch_us(ts) AS BIGINT) // 3600000000) * 3600000000
        |               AS hour_us,
        |             COUNT(*) AS n_events
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type,
        |             unnest(range(lo, hi + 1, 3600000000)) AS hour_us
        |      FROM (SELECT event_type, MIN(hour_us) AS lo, MAX(hour_us) AS hi
        |            FROM s GROUP BY 1)),
        |j AS (SELECT g.event_type, g.hour_us, s.n_events
        |      FROM g LEFT JOIN s USING (event_type, hour_us))
        |SELECT event_type, hour_us,
        |       last_value(n_events IGNORE NULLS)
        |         OVER (PARTITION BY event_type ORDER BY hour_us) AS n_events,
        |       n_events IS NULL AS was_gap,
        |       last_value(CASE WHEN n_events IS NOT NULL THEN hour_us END
        |                  IGNORE NULLS)
        |         OVER (PARTITION BY event_type ORDER BY hour_us) AS filled_from_us
        |FROM j""".stripMargin,
    "q147_leakage_safe_split" -> {
      val bucket = s"${dkHash("CAST(cluster_id AS VARCHAR)", 0)} % 100"
      s"""WITH cl AS (SELECT * FROM ($dedupClusterOracle)),
         |m AS (SELECT d.doc_id, COALESCE(cl.canonical_id, d.doc_id) AS cluster_id
         |      FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, cluster_id,
         |       CASE WHEN $bucket < 80 THEN 'train'
         |            WHEN $bucket < 90 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM m""".stripMargin
    },
    "q148_source_similarity" -> {
      val mins = (0 until 16)
        .map(i => s"MIN(${dkMinhash("hb", i)}) AS mh$i").mkString(",\n  ")
      val matches = (0 until 16)
        .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH t AS (SELECT source, string_split(text,' ') AS l FROM documents),
         |s0 AS (SELECT source, $dkShingles AS sh FROM t),
         |e AS (SELECT source, unnest(sh) AS shingle FROM s0),
         |hb AS (SELECT source, ${dkHash("shingle", 0)} % ${graft.ext.Dedup.HashP} AS hb FROM e),
         |sig AS (SELECT source, $mins FROM hb GROUP BY source)
         |SELECT a.source AS source_a, b.source AS source_b,
         |       CAST($matches AS BIGINT) AS n_matching,
         |       CAST($matches AS DOUBLE) / 16 AS jaccard_est
         |FROM sig a JOIN sig b ON a.source < b.source""".stripMargin
    },
    "q149_markup_strip" ->
      """WITH c AS (SELECT doc_id, text,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(text, '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&'),
        |    '[ \t\n\r\f]+', ' ', 'g')) AS clean
        |  FROM documents)
        |SELECT doc_id, md5(clean) AS clean_hash,
        |       CAST(len(regexp_extract_all(text, '<[^>]*>')) AS BIGINT) AS n_tags,
        |       CAST(len(regexp_extract_all(text, '&(amp|lt|gt|quot|nbsp|#39);'))
        |            AS BIGINT) AS n_entities,
        |       CAST(length(text) AS BIGINT) AS raw_len,
        |       CAST(length(clean) AS BIGINT) AS clean_len
        |FROM c""".stripMargin,
    "q150_pseudonymize" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |t AS (SELECT user_id,
        |        substr(md5(CAST(user_id AS VARCHAR)||'#graft'), 1, 12) AS token
        |      FROM u)
        |SELECT user_id, token,
        |       COUNT(*) OVER (PARTITION BY token) AS ids_on_token,
        |       COUNT(*) OVER (PARTITION BY token) > 1 AS collision
        |FROM t""".stripMargin,
    "q151_type_sniff" -> {
      def m(p: String, as: String) =
        s"""CAST(SUM(CASE WHEN v IS NOT NULL AND regexp_matches(v, '$p')
           |        THEN 1 ELSE 0 END) AS BIGINT) AS $as""".stripMargin
      s"""WITH pairs AS (
         |  SELECT 'props' AS col_name, props AS v FROM events
         |  UNION ALL SELECT 'event_type', event_type FROM events
         |  UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
         |  UNION ALL SELECT 'lang', lang FROM documents
         |  UNION ALL SELECT 'doc_id', CAST(doc_id AS VARCHAR) FROM documents),
         |c AS (SELECT col_name,
         |  CAST(COUNT(v) AS BIGINT) AS n_values,
         |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  ${m("^[+-]?[0-9]+$", "n_int")},
         |  ${m("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$", "n_num")},
         |  ${m("(?i)^(true|false)$", "n_bool")},
         |  ${m("^[0-9]{4}-[0-9]{2}-[0-9]{2}$", "n_date")},
         |  ${m("^[0-9]{4}-[0-9]{2}-[0-9]{2}[ T][0-9]{2}:[0-9]{2}:[0-9]{2}(\\.[0-9]+)?$",
             "n_ts")},
         |  ${m("^\\{.*\\}$", "n_json")}
         |FROM pairs GROUP BY 1)
         |SELECT *,
         |  CASE WHEN n_values = 0 THEN 'unknown'
         |       WHEN n_int = n_values THEN 'bigint'
         |       WHEN n_num = n_values THEN 'double'
         |       WHEN n_bool = n_values THEN 'boolean'
         |       WHEN n_date = n_values THEN 'date'
         |       WHEN n_ts = n_values THEN 'timestamp'
         |       WHEN n_json = n_values THEN 'json'
         |       ELSE 'string' END AS verdict
         |FROM c""".stripMargin
    },
    "q152_diverse_select" ->
      s"""WITH $kmeansAssignCtes,
         |sc AS (SELECT a.vec_id, a.cell, s.score
         |       FROM assigned a JOIN sf s ON s.vec_id = a.vec_id AND s.cell = a.cell),
         |r AS (SELECT vec_id, cell,
         |        ROW_NUMBER() OVER (PARTITION BY cell
         |          ORDER BY score DESC, vec_id ASC) AS rank
         |      FROM sc)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell, rank FROM r
         |WHERE rank <= 8""".stripMargin,
    "q153_epoch_plan" -> {
      val target = "(CAST(100000 AS HUGEINT) * w) // tw"
      s"""WITH t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |           FROM documents WHERE source IS NOT NULL GROUP BY 1),
         |w AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576.0)
         |                     AS BIGINT) AS w FROM t),
         |tot AS (SELECT SUM(w) AS tw FROM w)
         |SELECT source, n_docs, n_tokens, w,
         |  CAST($target AS BIGINT) AS target_tokens,
         |  CAST((($target) * 1048576) // n_tokens AS BIGINT) AS repeat_fp,
         |  (($target) * 1048576) // n_tokens > 4194304 AS over_cap
         |FROM w CROSS JOIN tot""".stripMargin
    },
    "q154_pareto_front" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      s"""WITH d AS (SELECT doc_id,
         |             CAST($nt AS BIGINT) AS n_tokens,
         |             CAST(floor(LEAST(GREATEST(
         |               (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |               LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |               LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0)
         |               * 1048576.0) AS BIGINT) AS q_fp
         |           FROM documents)
         |SELECT a.doc_id, a.n_tokens, a.q_fp FROM d a
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM d b
         |  WHERE b.n_tokens >= a.n_tokens AND b.q_fp >= a.q_fp
         |    AND (b.n_tokens > a.n_tokens OR b.q_fp > a.q_fp))""".stripMargin
    },
    "q155_segment_rewrite" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
         |sg AS (SELECT doc_id,
         |              unnest(list_transform(range(0, (len(l)+19)//20),
         |                i -> struct_pack(idx := CAST(i AS INT),
         |                                 seg := array_to_string(l[(i*20+1):(i*20+20)], ' ')))) AS u
         |       FROM t),
         |s AS (SELECT doc_id, u.idx AS seg_idx, u.seg AS seg,
         |             ${dkHash("u.seg", 11)} AS gh FROM sg),
         |r AS (SELECT doc_id, seg_idx, seg,
         |             ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, seg_idx) AS rn
         |      FROM s)
         |SELECT doc_id,
         |       COUNT(*) AS n_segments,
         |       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       md5(COALESCE(string_agg(seg, ' ' ORDER BY seg_idx)
         |                      FILTER (WHERE rn = 1), '')) AS clean_hash
         |FROM r GROUP BY doc_id""".stripMargin,
    "q156_split_leakage" -> {
      def sp(id: String) =
        s"""CASE WHEN ${dkHash(s"CAST($id AS VARCHAR)", 0)} % 100 < 80 THEN 'train'
           |     WHEN ${dkHash(s"CAST($id AS VARCHAR)", 0)} % 100 < 90 THEN 'val'
           |     ELSE 'test' END""".stripMargin
      s"""WITH np AS (SELECT id_a, id_b FROM ($nearDupOracle)),
         |lab AS (SELECT id_a, id_b, ${sp("id_a")} AS s_a, ${sp("id_b")} AS s_b
         |        FROM np)
         |SELECT LEAST(s_a, s_b) AS split_a, GREATEST(s_a, s_b) AS split_b,
         |       COUNT(*) AS n_pairs,
         |       LEAST(s_a, s_b) <> GREATEST(s_a, s_b) AS leaks
         |FROM lab GROUP BY 1, 2, 4""".stripMargin
    },
    "q157_label_consensus" ->
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS n
        |           FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n,
        |             MAX(n) OVER (PARTITION BY user_id) AS max_n,
        |             ROW_NUMBER() OVER (PARTITION BY user_id
        |               ORDER BY n DESC, event_type ASC) AS rk
        |      FROM c)
        |SELECT user_id,
        |       CAST(SUM(n) AS BIGINT) AS n_votes,
        |       COUNT(*) AS n_distinct_labels,
        |       MIN(CASE WHEN rk = 1 THEN event_type END) AS majority_label,
        |       CAST(MIN(CASE WHEN rk = 1 THEN n END) AS BIGINT) AS majority_votes,
        |       SUM(CASE WHEN n = max_n THEN 1 ELSE 0 END) > 1 AS is_tie,
        |       COUNT(*) = 1 AS unanimous
        |FROM r GROUP BY user_id""".stripMargin,
    "q158_robust_scale_by" ->
      """WITH s AS (SELECT source,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS p25,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS p75
        |  FROM documents GROUP BY 1)
        |SELECT doc_id, d.source, n_chars,
        |       CASE WHEN p75 = p25 THEN 0.0
        |            ELSE ROUND((CAST(n_chars AS DOUBLE) - med) / (p75 - p25), 6)
        |       END AS robust_z
        |FROM documents d JOIN s USING (source)""".stripMargin,
    "q159_peak_concurrency" ->
      """WITH iv AS (SELECT l_returnflag AS k,
        |                   CAST(epoch_us(o_orderdate) AS BIGINT) AS s,
        |                   CAST(epoch_us(l_shipdate) AS BIGINT) AS e
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ev AS (SELECT k, s AS t, 1 AS d FROM iv
        |       UNION ALL SELECT k, e, -1 FROM iv),
        |rs AS (SELECT k, t, d,
        |              SUM(d) OVER (PARTITION BY k ORDER BY t, d) AS rs
        |       FROM ev),
        |m AS (SELECT *, MAX(rs) OVER (PARTITION BY k) AS mx FROM rs)
        |SELECT k AS l_returnflag,
        |       CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_intervals,
        |       CAST(MAX(rs) AS BIGINT) AS peak,
        |       CAST(MIN(CASE WHEN rs = mx THEN t END) AS BIGINT) AS peak_t_us
        |FROM m GROUP BY k""".stripMargin,
    "q160_benford_audit" -> {
      val expCase = graft.analyze.Benford.expectedFp.zipWithIndex
        .map { case (e, i) => s"WHEN ${i + 1} THEN $e" }.mkString("CASE digit ", " ", " END")
      s"""WITH v AS (SELECT o_orderpriority AS g,
         |                  CAST(floor(o_totalprice) AS BIGINT) AS x
         |           FROM orders WHERE floor(o_totalprice) >= 1),
         |d AS (SELECT g, CAST(substr(CAST(x AS VARCHAR), 1, 1) AS INT) AS digit FROM v),
         |c AS (SELECT g, digit, COUNT(*) AS n FROM d GROUP BY 1, 2),
         |t AS (SELECT *, SUM(n) OVER (PARTITION BY g) AS n_grp FROM c)
         |SELECT g AS o_orderpriority, digit,
         |       CAST(n AS BIGINT) AS n, CAST(n_grp AS BIGINT) AS n_grp,
         |       CAST($expCase AS BIGINT) AS exp_fp,
         |       CAST(abs(n * 1000000000 - n_grp * ($expCase)) AS BIGINT) AS dev_fp
         |FROM t""".stripMargin
    },
    "q161_agreement_kappa" -> {
      val langs = graft.ext.TextAnalysis.langMarkers.map(_._1)
      val scoreDefs = langs.map(l => s"${dkLangScore(l)} AS score_$l").mkString(",\n  ")
      val best = langs.map(l => s"score_$l").mkString("GREATEST(", ", ", ")")
      val cases = langs.map(l => s"WHEN score_$l = best AND best > 0 THEN '$l'").mkString(" ")
      s"""WITH pr AS (SELECT lang AS gold, CASE $cases ELSE 'und' END AS pred
         |  FROM (SELECT lang, $scoreDefs, $best AS best FROM documents)),
         |p AS (SELECT gold, pred FROM pr
         |      WHERE gold IS NOT NULL AND pred IS NOT NULL),
         |tot AS (SELECT COUNT(*) AS n,
         |               SUM(CASE WHEN gold = pred THEN 1 ELSE 0 END) AS agree_n
         |        FROM p),
         |ra AS (SELECT gold AS lbl, COUNT(*) AS na FROM p GROUP BY 1),
         |rb AS (SELECT pred AS lbl, COUNT(*) AS nb FROM p GROUP BY 1),
         |pe AS (SELECT COALESCE(SUM(na * nb), 0) AS pe_num
         |       FROM ra JOIN rb USING (lbl))
         |SELECT CAST(n AS BIGINT) AS n, CAST(agree_n AS BIGINT) AS agree_n,
         |       CAST(pe_num AS BIGINT) AS pe_num,
         |       CAST(n * agree_n - pe_num AS BIGINT) AS kappa_num,
         |       CAST(n * n - pe_num AS BIGINT) AS kappa_den,
         |       CAST(CASE WHEN n * n - pe_num = 0 THEN 0
         |                 ELSE ${dkFloorDiv("(n * agree_n - pe_num) * 1048576", "n * n - pe_num")}
         |            END AS BIGINT) AS kappa_fp
         |FROM tot CROSS JOIN pe""".stripMargin
    },
    "q162_quantile_normalize" ->
      """WITH b AS (SELECT doc_id, source, n_chars FROM documents
        |           WHERE n_chars IS NOT NULL),
        |g AS (SELECT *,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |                           ORDER BY n_chars, doc_id) AS r,
        |        COUNT(*) OVER (PARTITION BY source) AS ng,
        |        COUNT(*) OVER () AS nt
        |      FROM b),
        |p AS (SELECT doc_id, source, n_chars,
        |             CAST((r * nt + ng - 1) // ng AS BIGINT) AS qpos
        |      FROM g),
        |s AS (SELECT n_chars AS v,
        |             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS pos
        |      FROM b)
        |SELECT p.doc_id, p.source, p.n_chars, p.qpos, s.v AS norm_value
        |FROM p JOIN s ON s.pos = p.qpos""".stripMargin,
    "q163_trimmed_mean" ->
      """WITH b AS (SELECT source, doc_id, n_chars FROM documents
        |           WHERE n_chars IS NOT NULL),
        |r AS (SELECT *,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |                           ORDER BY n_chars, doc_id) AS rn,
        |        COUNT(*) OVER (PARTITION BY source) AS ng
        |      FROM b),
        |k AS (SELECT *, CASE WHEN ng - 2 * (ng // 10) < 1 THEN 0
        |                     ELSE ng // 10 END AS kt
        |      FROM r)
        |SELECT source, CAST(MAX(ng) AS BIGINT) AS n,
        |       CAST(MAX(kt) AS BIGINT) AS k_trim,
        |       CAST(COUNT(*) AS BIGINT) AS n_used,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_kept,
        |       CAST((SUM(n_chars) * 1048576) // COUNT(*) AS BIGINT) AS mean_fp
        |FROM k WHERE rn > kt AND rn <= ng - kt
        |GROUP BY source""".stripMargin,
    "q164_exact_split" ->
      s"""SELECT doc_id, source,
         |       CASE WHEN rn * 100 <= ng * 80 THEN 'train'
         |            WHEN rn * 100 <= ng * 90 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, source,
         |        ROW_NUMBER() OVER (PARTITION BY source
         |          ORDER BY ${dkHash("CAST(doc_id AS VARCHAR)", 0)}, doc_id) AS rn,
         |        COUNT(*) OVER (PARTITION BY source) AS ng
         |      FROM documents)""".stripMargin,
    "q165_oov_rate" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |              FROM documents),
        |c AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
        |v AS (SELECT tok FROM (
        |        SELECT tok, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rk
        |        FROM c)
        |      WHERE rk <= 500)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST((SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1048576)
        |              // COUNT(*) AS BIGINT) AS oov_fp
        |FROM toks LEFT JOIN v ON toks.tok = v.tok
        |GROUP BY doc_id""".stripMargin,
    "q166_group_ols" ->
      s"""WITH b AS (SELECT source, CAST(n_chars AS HUGEINT) AS x,
        |                  CAST(len(string_split(text, ' ')) AS HUGEINT) AS y
        |           FROM documents WHERE n_chars IS NOT NULL),
        |a AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
        |             SUM(x) AS sx, SUM(y) AS sy,
        |             SUM(x * x) AS sxx, SUM(x * y) AS sxy
        |      FROM b GROUP BY 1),
        |c AS (SELECT source, n, sx, sy,
        |             n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
        |      FROM a)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |       CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
        |       CAST(CASE WHEN den = 0 THEN 0
        |                 ELSE ${dkFloorDiv("num * 1048576", "den")} END AS BIGINT) AS slope_fp,
        |       CAST(CASE WHEN den = 0 THEN 0
        |                 ELSE ${dkFloorDiv("(sy * den - num * sx) * 1048576", "n * den")}
        |            END AS BIGINT) AS intercept_fp
        |FROM c""".stripMargin,
    "q167_rrf_fusion" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      s"""WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |           FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
         |       WHERE term IN ('spark', 'hash', 'join', 'window') GROUP BY 1, 2),
         |d AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |idf AS (SELECT term, (1000000 * n) // df AS idf_milli FROM d CROSS JOIN n),
         |sc AS (SELECT doc_id, CAST(SUM(tf * idf_milli) AS BIGINT) AS score_num
         |       FROM tf JOIN idf USING (term) GROUP BY 1),
         |q AS (SELECT doc_id,
         |        CAST(floor(LEAST(GREATEST(
         |          (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |          LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |          LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0)
         |          * 1048576.0) AS BIGINT) AS q_fp
         |      FROM documents),
         |f AS (SELECT sc.doc_id AS doc_id, score_num, q_fp,
         |        ROW_NUMBER() OVER (ORDER BY score_num DESC, sc.doc_id ASC) AS r_lex,
         |        ROW_NUMBER() OVER (ORDER BY q_fp DESC, sc.doc_id ASC) AS r_qual
         |      FROM sc JOIN q USING (doc_id))
         |SELECT doc_id, score_num, q_fp,
         |       CAST(r_lex AS BIGINT) AS r_lex, CAST(r_qual AS BIGINT) AS r_qual,
         |       CAST(1048576 // (r_lex + 60) + 1048576 // (r_qual + 60) AS BIGINT) AS rrf_fp
         |FROM f ORDER BY rrf_fp DESC, doc_id ASC LIMIT 20""".stripMargin
    },
    "q168_winsorize" ->
      """WITH s AS (SELECT source,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS p05,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS p95
        |  FROM documents GROUP BY 1)
        |SELECT doc_id, d.source, n_chars,
        |       ROUND(GREATEST(LEAST(CAST(n_chars AS DOUBLE), p95), p05), 6) AS winsorized,
        |       CAST(n_chars AS DOUBLE) < p05 AS clipped_lo,
        |       CAST(n_chars AS DOUBLE) > p95 AS clipped_hi
        |FROM documents d JOIN s USING (source)""".stripMargin,
    "q169_cdc_apply" ->
      s"""WITH l AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id,
         |             CASE WHEN ${dkHash("CAST(event_id AS VARCHAR)", 3)} % 10 = 0
         |                  THEN 'D' ELSE 'U' END AS op,
         |             value
         |           FROM events),
         |r AS (SELECT *,
         |        ROW_NUMBER() OVER (PARTITION BY user_id
         |                           ORDER BY ts_us DESC, event_id DESC) AS rn,
         |        COUNT(*) OVER (PARTITION BY user_id) AS n_ops
         |      FROM l)
         |SELECT user_id, value, ts_us AS last_ts, CAST(n_ops AS BIGINT) AS n_ops
         |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin,
    "q170_readability" ->
      """WITH b AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS s,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS y
        |  FROM documents)
        |SELECT doc_id, w AS n_words, s AS n_sentences, y AS n_syllables,
        |       CAST((w * 390) // s + (y * 11800) // GREATEST(w, 1) - 15590
        |            AS BIGINT) AS fk_milli
        |FROM b""".stripMargin,
    "q171_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
        |u AS (SELECT unnest(l) AS tok FROM t),
        |uc AS (SELECT tok, COUNT(*) AS cu FROM u GROUP BY 1),
        |b AS (SELECT doc_id,
        |             unnest(list_transform(range(1, len(l)),
        |                                   i -> l[i] || ' ' || l[i+1])) AS gram
        |      FROM t WHERE len(l) >= 2),
        |bc AS (SELECT gram, COUNT(*) AS cb FROM b GROUP BY 1),
        |bp AS (SELECT gram, (cb * 1048576) // cu AS p_fp
        |       FROM bc JOIN uc ON string_split(gram, ' ')[1] = tok),
        |db AS (SELECT doc_id, gram, COUNT(*) AS k FROM b GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
        |       CAST(SUM(k * p_fp) // SUM(k) AS BIGINT) AS lm_fp
        |FROM db JOIN bp USING (gram) GROUP BY doc_id""".stripMargin,
    "q172_contrastive_pairs" -> {
      val h = dkHash("CAST(doc_id AS VARCHAR)", 7)
      s"""WITH np AS (SELECT id_a, id_b FROM ($nearDupOracle)),
         |pos AS (SELECT LEAST(id_a, id_b) AS id_a, GREATEST(id_a, id_b) AS id_b,
         |               1 AS label FROM np),
         |r AS (SELECT doc_id,
         |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY $h, doc_id) AS rn,
         |        LEAD(doc_id) OVER (PARTITION BY source ORDER BY $h, doc_id) AS mate
         |      FROM documents),
         |neg AS (SELECT LEAST(doc_id, mate) AS id_a, GREATEST(doc_id, mate) AS id_b,
         |               0 AS label
         |        FROM r WHERE rn % 2 = 1 AND mate IS NOT NULL),
         |negf AS (SELECT n.* FROM neg n
         |         WHERE NOT EXISTS (SELECT 1 FROM pos p
         |                           WHERE p.id_a = n.id_a AND p.id_b = n.id_b))
         |SELECT * FROM pos UNION ALL SELECT * FROM negf""".stripMargin
    },
    "q173_gram_matrix" ->
      """WITH q AS (SELECT list_transform(embedding,
        |             x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv
        |           FROM embeddings),
        |n AS (SELECT COUNT(*) AS n_vecs FROM embeddings)
        |SELECT CAST(gi.i - 1 AS INT) AS i, CAST(gj.j - 1 AS INT) AS j,
        |       CAST(n_vecs AS BIGINT) AS n_vecs,
        |       CAST(SUM(qv[gi.i] * qv[gj.j]) AS BIGINT) AS g_sum
        |FROM q CROSS JOIN generate_series(1, 64) gi(i)
        |       CROSS JOIN generate_series(1, 64) gj(j)
        |       CROSS JOIN n
        |WHERE gj.j >= gi.i
        |GROUP BY 1, 2, 3""".stripMargin,
    "q174_source_modularity" ->
      s"""WITH np AS (SELECT id_a, id_b FROM ($nearDupOracle)),
         |sm AS (SELECT doc_id, source FROM documents),
         |e AS (SELECT id_a, id_b, a.source AS src_a, b.source AS src_b
         |      FROM np JOIN sm a ON a.doc_id = id_a JOIN sm b ON b.doc_id = id_b),
         |mm AS (SELECT COUNT(*) AS m FROM e),
         |ei AS (SELECT src_a AS source, COUNT(*) AS e_in FROM e
         |       WHERE src_a = src_b GROUP BY 1),
         |dg AS (SELECT id, COUNT(*) AS deg FROM (
         |         SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e)
         |       GROUP BY 1),
         |ds AS (SELECT source, COUNT(*) AS n_nodes, SUM(deg) AS d_sum
         |       FROM dg JOIN sm ON doc_id = id GROUP BY 1),
         |f AS (SELECT ds.source, n_nodes, COALESCE(e_in, 0) AS e_in, d_sum, m
         |      FROM ds LEFT JOIN ei ON ds.source = ei.source CROSS JOIN mm)
         |SELECT source, CAST(n_nodes AS BIGINT) AS n_nodes,
         |       CAST(e_in AS BIGINT) AS e_in, CAST(d_sum AS BIGINT) AS d_sum,
         |       CAST(m AS BIGINT) AS m,
         |       CAST(4 * m * e_in - d_sum * d_sum AS BIGINT) AS contrib_num,
         |       CAST(CASE WHEN m = 0 THEN 0
         |                 ELSE ${dkFloorDiv("(4 * m * e_in - d_sum * d_sum) * 1048576", "4 * m * m")}
         |            END AS BIGINT) AS contrib_fp
         |FROM f""".stripMargin,
    "q175_balance_weights" ->
      """WITH c AS (SELECT lang, source, COUNT(*) AS n FROM documents
        |           WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT SUM(n) AS n_total, COUNT(*) AS k_cells FROM c)
        |SELECT lang, source, CAST(n AS BIGINT) AS n,
        |       CAST(n_total AS BIGINT) AS n_total, k_cells,
        |       CAST((n_total * 1048576) // (n * k_cells) AS BIGINT) AS w_fp,
        |       CAST(LEAST((n_total * 1048576) // (n * k_cells), 10485760)
        |            AS BIGINT) AS w_capped_fp
        |FROM c CROSS JOIN t""".stripMargin,
    "q176_path_score" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  CAST(epoch_us(ts) AS BIGINT) AS tus FROM events),
        |w AS (SELECT *,
        |        CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
        |                  OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |                     > 1800000000
        |             THEN 1 ELSE 0 END AS is_new
        |      FROM e),
        |s AS (SELECT user_id, event_id, event_type, tus,
        |        CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |      FROM w),
        |st AS (SELECT user_id, session_idx, event_type AS from_type,
        |         LEAD(event_type) OVER (PARTITION BY user_id, session_idx
        |                                ORDER BY tus, event_id) AS to_type
        |       FROM s),
        |sf AS (SELECT * FROM st WHERE to_type IS NOT NULL),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM sf GROUP BY 1, 2),
        |cf AS (SELECT *, SUM(n) OVER (PARTITION BY from_type) AS n_from FROM c),
        |p AS (SELECT from_type, to_type, (n * 1048576) // n_from AS p_fp FROM cf)
        |SELECT user_id, session_idx, CAST(COUNT(*) AS BIGINT) AS n_trans,
        |       CAST(SUM(p_fp) // COUNT(*) AS BIGINT) AS path_fp
        |FROM sf JOIN p USING (from_type, to_type)
        |GROUP BY 1, 2""".stripMargin,
    "q177_setsim_join" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
         |s0 AS (SELECT doc_id, $dkShingles AS sh FROM t),
         |s AS (SELECT doc_id, unnest(sh) AS tok FROM s0),
         |n AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY 1),
         |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |      FROM s a JOIN s b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
         |       CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
         |       CAST((inter * 1048576) // (na.n + nb.n - inter) AS BIGINT) AS jac_fp
         |FROM i JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
         |WHERE inter * 5 >= 3 * (na.n + nb.n - inter)""".stripMargin,
    "q178_simhash_neardup" -> {
      val sums = (0 until 60)
        .map(b => s"SUM(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n    ")
      val bits = (0 until 60)
        .map(b => s"CASE WHEN s$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok
         |           FROM documents),
         |h AS (SELECT doc_id, ${dkHash("tok", 0)} AS hv FROM t),
         |sm AS (SELECT doc_id,
         |    $sums
         |  FROM h GROUP BY doc_id),
         |sig AS (SELECT doc_id, $bits AS simhash FROM sm)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
    },
    "q179_distinctive_terms" ->
      """WITH t AS (SELECT source, unnest(string_split(lower(text), ' ')) AS term
        |           FROM documents),
        |cg AS (SELECT source, term, COUNT(*) AS c_g FROM t GROUP BY 1, 2),
        |ct AS (SELECT term, SUM(c_g) AS c_tot FROM cg GROUP BY 1),
        |tg AS (SELECT source, SUM(c_g) AS t_g FROM cg GROUP BY 1),
        |tot AS (SELECT SUM(c_tot) AS t_all, COUNT(*) AS v FROM ct),
        |sc AS (SELECT cg.source, cg.term, c_g,
        |         ((c_g + 1) * (t_all - t_g + v) * 1048576)
        |           // ((c_tot - c_g + 1) * (t_g + v)) AS score_fp
        |       FROM cg JOIN ct USING (term) JOIN tg USING (source) CROSS JOIN tot),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |                                   ORDER BY score_fp DESC, term ASC) AS rank
        |      FROM sc)
        |SELECT source, term, CAST(c_g AS BIGINT) AS c_g,
        |       CAST(score_fp AS BIGINT) AS score_fp, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5""".stripMargin,
    "q180_systematic_sample" -> {
      val h = dkHash("CAST(doc_id AS VARCHAR)", 9)
      def g(x: String) =
        s"LEAST(GREATEST(${dkFloorDiv(x + " - off", "stride")} + 1, 0), 200)"
      s"""WITH b AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         |                  $h AS h
         |           FROM documents WHERE len(string_split(text, ' ')) > 0),
         |o AS (SELECT *, SUM(w) OVER (ORDER BY h, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS cum FROM b),
         |t AS (SELECT SUM(w) AS tw FROM b),
         |p AS (SELECT doc_id, w, cum, tw // 200 AS stride, tw // 400 AS off
         |      FROM o CROSS JOIN t)
         |SELECT doc_id, w, CAST(cum AS BIGINT) AS cum,
         |       CAST(${g("cum - 1")} - ${g("cum - w - 1")} AS BIGINT) AS n_copies
         |FROM p
         |WHERE ${g("cum - 1")} - ${g("cum - w - 1")} > 0""".stripMargin
    },
    "q181_ks_drift" ->
      """WITH b AS (SELECT source, n_chars AS v FROM documents
        |           WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |c AS (SELECT source, v, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |vals AS (SELECT v, SUM(c) AS call,
        |                SUM(SUM(c)) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumall
        |         FROM c GROUP BY v),
        |grid AS (SELECT g.source, vals.v, vals.cumall, COALESCE(c.c, 0) AS c
        |         FROM vals CROSS JOIN (SELECT DISTINCT source FROM c) g
        |         LEFT JOIN c ON c.source = g.source AND c.v = vals.v),
        |cg AS (SELECT *, SUM(c) OVER (PARTITION BY source ORDER BY v
        |                              ROWS UNBOUNDED PRECEDING) AS cumg
        |       FROM grid),
        |ng AS (SELECT source, COUNT(*) AS n_g FROM b GROUP BY 1),
        |tt AS (SELECT COUNT(*) AS n FROM b),
        |d AS (SELECT cg.source, n_g, n,
        |             abs(cumg * (n - n_g) - (cumall - cumg) * n_g) AS diff
        |      FROM cg JOIN ng ON cg.source = ng.source CROSS JOIN tt)
        |SELECT source, CAST(MAX(n_g) AS BIGINT) AS n_g,
        |       CAST(MAX(n) AS BIGINT) AS n_all,
        |       CAST(MAX(diff) AS BIGINT) AS ks_num,
        |       CAST(MAX(n_g) * (MAX(n) - MAX(n_g)) AS BIGINT) AS ks_den,
        |       CAST(CASE WHEN MAX(n_g) * (MAX(n) - MAX(n_g)) = 0 THEN 0
        |                 ELSE (MAX(diff) * 1048576)
        |                        // (MAX(n_g) * (MAX(n) - MAX(n_g)))
        |            END AS BIGINT) AS ks_fp
        |FROM d GROUP BY source""".stripMargin,
    "q182_code_score" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[{}()\[\];=<>]')) AS BIGINT) AS n_sym,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '\b(def|class|return|import|if|else|for|while|function|var|const|void|int)\b'))
        |      AS BIGINT) AS n_kw,
        |    GREATEST(CAST(length(text) AS BIGINT), 1) AS nc,
        |    GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT), 1) AS nt
        |  FROM documents)
        |SELECT doc_id, n_sym, n_kw,
        |       CAST((n_sym * 1048576) // nc + (n_kw * 1048576) // nt AS BIGINT) AS code_fp,
        |       ((n_sym * 1048576) // nc + (n_kw * 1048576) // nt) >= 131072 AS is_code
        |FROM c""".stripMargin,
    "q183_calibration" -> {
      val entries = graft.ext.TextAnalysis.langMarkers.zipWithIndex.map { case ((l, _), i) =>
        s"struct_pack(ns := -(${dkLangScore(l)}), i := $i, l := '$l')"
      }.mkString(",\n    ")
      s"""WITH s AS (SELECT doc_id, lang, list_sort([
         |    $entries]) AS a FROM documents),
         |p AS (SELECT doc_id, lang,
         |    CASE WHEN a[1].ns < 0 THEN a[1].l ELSE 'und' END AS lang_top,
         |    CAST(-a[1].ns AS BIGINT) AS st,
         |    CAST(-a[2].ns AS BIGINT) AS ss
         |  FROM s),
         |c AS (SELECT doc_id,
         |    CASE WHEN st + ss > 0 THEN (st * 1048576) // (st + ss) ELSE 0 END AS conf,
         |    CASE WHEN lang_top = lang THEN 1 ELSE 0 END AS ok
         |  FROM p),
         |b AS (SELECT LEAST((conf * 10) // 1048576, 9) AS bin, COUNT(*) AS n,
         |    SUM(ok) AS n_correct, SUM(conf) AS sum_conf
         |  FROM c GROUP BY 1)
         |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
         |       CAST(n_correct AS BIGINT) AS n_correct,
         |       CAST((n_correct * 1048576) // n AS BIGINT) AS acc_fp,
         |       CAST(sum_conf // n AS BIGINT) AS conf_avg_fp,
         |       CAST(abs(n_correct * 1048576 - sum_conf) AS BIGINT) AS gap_num
         |FROM b""".stripMargin
    },
    "q185_silhouette" ->
      s"""WITH $kmeansAssignCtes,
         |t1 AS (SELECT c.vec_id, c.cell, f.score FROM cells c
         |       JOIN sf f ON c.vec_id = f.vec_id AND c.cell = f.cell
         |       WHERE c.crn = 1),
         |t2 AS (SELECT c.vec_id, f.score FROM cells c
         |       JOIN sf f ON c.vec_id = f.vec_id AND c.cell = f.cell
         |       WHERE c.crn = 2),
         |v AS (SELECT t1.vec_id, t1.cell,
         |        CASE WHEN 1.0 - t2.score > 0.0
         |             THEN CAST(floor((t1.score - t2.score) / (1.0 - t2.score)
         |                             * 1048576.0) AS BIGINT)
         |             ELSE 0 END AS sil_fp
         |      FROM t1 JOIN t2 ON t1.vec_id = t2.vec_id)
         |SELECT CAST(cell AS BIGINT) AS cell, CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(${dkFloorDiv("SUM(sil_fp)", "COUNT(*)")} AS BIGINT) AS mean_sil_fp,
         |       CAST(MIN(sil_fp) AS BIGINT) AS min_sil_fp,
         |       CAST(SUM(CASE WHEN sil_fp < 262144 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
         |FROM v GROUP BY cell""".stripMargin,
    "q186_bcubed" ->
      s"""WITH cl AS (SELECT * FROM ($dedupClusterOracle)),
         |m AS (SELECT d.doc_id AS id, COALESCE(cl.canonical_id, d.doc_id) AS c,
         |             d.source AS g
         |      FROM documents d LEFT JOIN cl USING (doc_id)
         |      WHERE d.source IS NOT NULL),
         |cells AS (SELECT c, g, COUNT(*) AS ncg FROM m GROUP BY 1, 2),
         |cs AS (SELECT c, SUM(ncg) AS nc FROM cells GROUP BY 1),
         |gs AS (SELECT g, SUM(ncg) AS ng FROM cells GROUP BY 1),
         |j AS (SELECT cells.c, cells.g, ncg, nc, ng
         |      FROM cells JOIN cs USING (c) JOIN gs USING (g)),
         |t AS (SELECT SUM(ncg) AS n_items, COUNT(DISTINCT c) AS n_clusters,
         |             COUNT(DISTINCT g) AS n_gold,
         |             SUM((ncg * ncg * 1048576) // nc) AS psum,
         |             SUM((ncg * ncg * 1048576) // ng) AS rsum
         |      FROM j),
         |f AS (SELECT n_items, n_clusters, n_gold,
         |             psum // n_items AS p, rsum // n_items AS r FROM t)
         |SELECT CAST(n_items AS BIGINT) AS n_items,
         |       CAST(n_clusters AS BIGINT) AS n_clusters,
         |       CAST(n_gold AS BIGINT) AS n_gold,
         |       CAST(p AS BIGINT) AS prec_fp, CAST(r AS BIGINT) AS rec_fp,
         |       CAST(CASE WHEN p + r > 0 THEN (2 * p * r) // (p + r)
         |                 ELSE 0 END AS BIGINT) AS f1_fp
         |FROM f""".stripMargin,
    "q187_threshold_sweep" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
         |s0 AS (SELECT doc_id, $dkShingles AS sh FROM t),
         |s AS (SELECT doc_id, unnest(sh) AS tok FROM s0),
         |n AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY 1),
         |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |      FROM s a JOIN s b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |p AS (SELECT id_a, id_b, inter, na.n AS n_a, nb.n AS n_b
         |      FROM i JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
         |      WHERE inter * 2 >= (na.n + nb.n - inter)),
         |b AS (SELECT *, LEAST((inter * 20) // (n_a + n_b - inter), 19) AS bin FROM p),
         |pc AS (SELECT bin, COUNT(*) AS n_pairs FROM b GROUP BY 1),
         |dc AS (SELECT bin, COUNT(DISTINCT id) AS n_docs FROM (
         |         SELECT bin, id_a AS id FROM b
         |         UNION ALL SELECT bin, id_b FROM b) GROUP BY 1),
         |bins AS (SELECT unnest(range(0, 20)) AS bin)
         |SELECT CAST(bins.bin AS BIGINT) AS bin,
         |       CAST((bins.bin * 1048576) // 20 AS BIGINT) AS thr_lo_fp,
         |       CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
         |       CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs
         |FROM bins LEFT JOIN pc USING (bin) LEFT JOIN dc USING (bin)""".stripMargin,
    "q188_dedup_rate" ->
      s"""WITH cl AS (SELECT * FROM ($dedupClusterOracle))
         |SELECT d.source AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN cl.canonical_id IS NOT NULL
         |                      AND cl.canonical_id <> d.doc_id
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |       CAST((SUM(CASE WHEN cl.canonical_id IS NOT NULL
         |                       AND cl.canonical_id <> d.doc_id
         |                      THEN 1 ELSE 0 END) * 1048576)
         |            // COUNT(*) AS BIGINT) AS removed_fp
         |FROM documents d LEFT JOIN cl USING (doc_id)
         |GROUP BY d.source""".stripMargin,
    "q189_rank_auc" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      s"""WITH cl AS (SELECT * FROM ($dedupClusterOracle)),
         |m AS (SELECT CAST(floor(LEAST(GREATEST(
         |        (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |        LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |        LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0)
         |        * 1000000.0) AS BIGINT) AS v,
         |      CASE WHEN cl.canonical_id IS NOT NULL
         |            AND cl.canonical_id <> d.doc_id THEN 1 ELSE 0 END AS y
         |      FROM documents d LEFT JOIN cl USING (doc_id)),
         |c AS (SELECT v, COUNT(*) AS c, SUM(y) AS p FROM m GROUP BY 1),
         |w AS (SELECT *, COALESCE(SUM(c) OVER (ORDER BY v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |      FROM c),
         |t AS (SELECT SUM(p) AS n_pos, SUM(c - p) AS n_neg,
         |             SUM(p * (2 * cb + c + 1)) AS r2 FROM w),
         |f AS (SELECT n_pos, n_neg, r2 - n_pos * (n_pos + 1) AS u2 FROM t)
         |SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
         |       CAST(u2 AS BIGINT) AS u2_num,
         |       CAST(2 * n_pos * n_neg AS BIGINT) AS u2_den,
         |       CAST(CASE WHEN n_pos > 0 AND n_neg > 0
         |                 THEN (u2 * 1048576) // (2 * n_pos * n_neg)
         |                 ELSE 0 END AS BIGINT) AS auc_fp
         |FROM f""".stripMargin
    },
    "q190_yield_curve" -> {
      val ha = dkHash("CAST(id_a AS VARCHAR)", 7)
      val hb = dkHash("CAST(id_b AS VARCHAR)", 7)
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
         |s0 AS (SELECT doc_id, $dkShingles AS sh FROM t),
         |s AS (SELECT doc_id, unnest(sh) AS tok FROM s0),
         |n AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY 1),
         |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |      FROM s a JOIN s b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |p AS (SELECT id_a, id_b
         |      FROM i JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
         |      WHERE inter * 2 >= (na.n + nb.n - inter)),
         |h AS (SELECT id_a, id_b, $ha % 100 AS ha, $hb % 100 AS hb FROM p),
         |fr AS (SELECT unnest([25, 50, 75, 100]) AS pct),
         |g AS (SELECT fr.pct, id_a, id_b
         |      FROM h CROSS JOIN fr
         |      WHERE ha < pct AND hb < pct),
         |pc AS (SELECT pct, COUNT(*) AS n_pairs FROM g GROUP BY 1),
         |dc AS (SELECT pct, COUNT(DISTINCT id) AS n_dup_docs FROM (
         |         SELECT pct, id_a AS id FROM g
         |         UNION ALL SELECT pct, id_b FROM g) GROUP BY 1)
         |SELECT CAST(fr.pct AS BIGINT) AS pct,
         |       CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
         |       CAST(COALESCE(n_dup_docs, 0) AS BIGINT) AS n_dup_docs
         |FROM fr LEFT JOIN pc USING (pct) LEFT JOIN dc USING (pct)""".stripMargin
    },
    "q191_jl_project" -> {
      val signs = graft.ext.Similarity.jlSigns(11, 64, 16)
      signs.zipWithIndex.map { case (sv, j) =>
        val arr = sv.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
        s"""SELECT vec_id, CAST($j AS BIGINT) AS dim,
           |  CAST(floor(list_sum(list_transform(list_zip(embedding, $arr),
           |    x -> CAST(x[1] AS DOUBLE) * x[2])) * 1048576.0) AS BIGINT) AS proj_fp
           |FROM embeddings""".stripMargin
      }.mkString("\nUNION ALL\n")
    },
    "q192_sentence_chunks" ->
      """WITH s0 AS (SELECT doc_id, string_split_regex(text, '[.!?]+ *') AS l
        |            FROM documents),
        |s AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS idx, l FROM s0),
        |f AS (SELECT doc_id, idx,
        |             CAST(len(string_split(l[idx], ' ')) AS BIGINT) AS ntok
        |      FROM s WHERE length(trim(l[idx])) > 0),
        |c AS (SELECT *, COALESCE(SUM(ntok) OVER (PARTITION BY doc_id ORDER BY idx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |      FROM f)
        |SELECT doc_id, CAST(cum_before // 40 AS BIGINT) AS chunk_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_sentences,
        |       CAST(SUM(ntok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY doc_id, cum_before // 40""".stripMargin,
    "q193_interarrival" ->
      """WITH e AS (SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS tus,
        |                  event_id
        |           FROM events),
        |w AS (SELECT event_type, tus,
        |        lag(tus) OVER (PARTITION BY user_id, event_type
        |                       ORDER BY tus, event_id) AS prev
        |      FROM e),
        |d AS (SELECT event_type, (tus - prev) // 1000000 AS ds
        |      FROM w WHERE prev IS NOT NULL),
        |a AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |             SUM(CAST(ds AS HUGEINT)) AS s, MAX(ds) AS mx,
        |             SUM(CAST(ds AS HUGEINT) * CAST(ds AS HUGEINT)) AS s2
        |      FROM d GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_gaps, CAST(s AS BIGINT) AS sum_s,
        |       CAST(mx AS BIGINT) AS max_s, CAST(s2 AS BIGINT) AS sum_s2,
        |       CAST(s // n AS BIGINT) AS mean_s,
        |       CAST(CASE WHEN s = 0 THEN 0
        |                 ELSE ((n * s2 - s * s) * 1048576) // (s * s)
        |            END AS BIGINT) AS cv2_fp
        |FROM a""".stripMargin,
    "q194_quality_trend" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      s"""WITH b AS (SELECT source, CAST(doc_id AS HUGEINT) AS x,
         |             CAST(CAST(floor(LEAST(GREATEST(
         |               (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |               LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |               LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0)
         |               * 1000000.0) AS BIGINT) AS HUGEINT) AS y
         |           FROM documents),
         |a AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
         |             SUM(x) AS sx, SUM(y) AS sy,
         |             SUM(x * x) AS sxx, SUM(x * y) AS sxy
         |      FROM b GROUP BY 1),
         |c AS (SELECT source, n, sx, sy,
         |             n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
         |      FROM a)
         |SELECT source, CAST(n AS BIGINT) AS n,
         |       CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
         |       CAST(CASE WHEN den = 0 THEN 0
         |                 ELSE ${dkFloorDiv("num * 1048576", "den")} END AS BIGINT)
         |         AS slope_fp,
         |       CAST(CASE WHEN den = 0 THEN 0
         |                 ELSE ${dkFloorDiv("(sy * den - num * sx) * 1048576", "n * den")}
         |            END AS BIGINT) AS intercept_fp
         |FROM c""".stripMargin
    },
    "q195_hash_uniformity" -> {
      val h = dkHash("CAST(doc_id AS VARCHAR)", 9)
      s"""WITH b AS (SELECT $h % 100 AS bucket FROM documents),
         |o AS (SELECT bucket, COUNT(*) AS o FROM b GROUP BY 1),
         |t AS (SELECT SUM(o) AS n, COUNT(*) AS used,
         |             MIN(o) AS mn, MAX(o) AS mx FROM o),
         |d AS (SELECT SUM(CAST(o * 100 - n AS HUGEINT)
         |                 * CAST(o * 100 - n AS HUGEINT)) AS occ
         |      FROM o CROSS JOIN t)
         |SELECT CAST(n AS BIGINT) AS n, CAST(used AS BIGINT) AS n_buckets_used,
         |       CAST(mn AS BIGINT) AS min_bucket, CAST(mx AS BIGINT) AS max_bucket,
         |       CAST(occ + (100 - used) * CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
         |            AS BIGINT) AS chi2_num
         |FROM t CROSS JOIN d""".stripMargin
    },
    "q196_minhash_calibration" -> {
      val mins = (0 until 16).map(i => s"MIN(${dkMinhash("hb", i)}) AS mh$i").mkString(",\n  ")
      val bandUnion = (0 until 4).map { b =>
        s"SELECT id, $b AS band_idx, md5(concat_ws('|', mh${4 * b}, mh${4 * b + 1}, mh${4 * b + 2}, mh${4 * b + 3})) AS band_hash FROM mh"
      }.mkString("\n    UNION ALL ")
      val matches = (0 until 16)
        .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
         |s0 AS (SELECT doc_id AS id, $dkShingles AS sh FROM t),
         |s AS (SELECT id, unnest(sh) AS shingle FROM s0),
         |hb AS (SELECT id, ${dkHash("shingle", 0)} % ${graft.ext.Dedup.HashP} AS hb FROM s),
         |mh AS (SELECT id, $mins FROM hb GROUP BY id),
         |bands AS ($bandUnion),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |         FROM bands a JOIN bands b ON a.band_idx = b.band_idx
         |          AND a.band_hash = b.band_hash AND a.id < b.id),
         |sizes AS (SELECT id, COUNT(*) AS n FROM s GROUP BY id),
         |c AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
         |      FROM s a JOIN s b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2),
         |cc AS (SELECT c.* FROM c SEMI JOIN cand USING (id_a, id_b)),
         |m AS (SELECT cc.id_a, cc.id_b, common, na.n AS n_a, nb.n AS n_b,
         |             $matches AS est_matches
         |      FROM cc JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
         |      JOIN mh sa ON sa.id = id_a JOIN mh sb ON sb.id = id_b),
         |j AS (SELECT est_matches,
         |             (common * 1048576) // (n_a + n_b - common) AS jfp FROM m)
         |SELECT CAST(est_matches AS BIGINT) AS est_matches,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       CAST(SUM(jfp) // COUNT(*) AS BIGINT) AS mean_jac_fp,
         |       CAST(MIN(jfp) AS BIGINT) AS min_jac_fp,
         |       CAST(MAX(jfp) AS BIGINT) AS max_jac_fp
         |FROM j GROUP BY est_matches""".stripMargin
    },
    "q197_fertility" ->
      """WITH b AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |      AS BIGINT) AS b
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(w) AS BIGINT) AS sum_words,
        |       CAST(SUM(b) AS BIGINT) AS sum_bpe,
        |       CAST((SUM(b) * 1048576) // SUM(w) AS BIGINT) AS fertility_fp
        |FROM b GROUP BY lang""".stripMargin,
    "q198_lang_mixing" -> {
      val entries = graft.ext.TextAnalysis.langMarkers.zipWithIndex.map { case ((l, _), i) =>
        s"struct_pack(ns := -(${dkLangScoreOn(l, "sent")}), i := $i, l := '$l')"
      }.mkString(",\n    ")
      s"""WITH s0 AS (SELECT doc_id, string_split_regex(text, '[.!?]+ *') AS l
         |            FROM documents),
         |sx AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS idx, l FROM s0),
         |f AS (SELECT doc_id, l[idx] AS sent FROM sx WHERE length(trim(l[idx])) > 0),
         |p AS (SELECT doc_id, list_sort([
         |    $entries]) AS a FROM f),
         |sl AS (SELECT doc_id,
         |         CASE WHEN a[1].ns < 0 THEN a[1].l ELSE 'und' END AS slang
         |       FROM p),
         |c AS (SELECT doc_id, slang, COUNT(*) AS c FROM sl GROUP BY 1, 2),
         |w AS (SELECT *, SUM(c) OVER (PARTITION BY doc_id) AS tot,
         |        ROW_NUMBER() OVER (PARTITION BY doc_id
         |                           ORDER BY c DESC, slang ASC) AS rk
         |      FROM c)
         |SELECT doc_id, CAST(MAX(tot) AS BIGINT) AS n_sentences,
         |       CAST(COUNT(*) AS BIGINT) AS n_langs,
         |       MIN(CASE WHEN rk = 1 THEN slang END) AS majority_lang,
         |       CAST((MIN(CASE WHEN rk = 1 THEN c END) * 1048576) // MAX(tot)
         |            AS BIGINT) AS majority_fp,
         |       COUNT(*) > 1 AS is_mixed
         |FROM w GROUP BY doc_id""".stripMargin
    },
    "q199_dependence_audit" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      s"""WITH d AS (SELECT CAST(floor(LEAST(GREATEST(
         |        (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |        LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |        LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0)
         |        * 1000000.0) AS BIGINT) AS q, n_chars AS len
         |      FROM documents),
         |t AS (SELECT COUNT(*) AS n FROM d),
         |qh AS (SELECT q, COUNT(*) AS c FROM d GROUP BY 1),
         |qc AS (SELECT q, COALESCE(SUM(c) OVER (ORDER BY q
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |      FROM qh),
         |qa AS (SELECT q, (cb * 5) // n AS qb FROM qc CROSS JOIN t),
         |lh AS (SELECT len, COUNT(*) AS c FROM d GROUP BY 1),
         |lc AS (SELECT len, COALESCE(SUM(c) OVER (ORDER BY len
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |      FROM lh),
         |la AS (SELECT len, (cb * 5) // n AS lb FROM lc CROSS JOIN t),
         |j AS (SELECT qa.qb AS a_bucket, la.lb AS b_bucket
         |      FROM d JOIN qa USING (q) JOIN la USING (len)),
         |cells AS (SELECT a_bucket, b_bucket, COUNT(*) AS n_cell
         |          FROM j GROUP BY 1, 2),
         |rt AS (SELECT a_bucket, SUM(n_cell) AS row_n FROM cells GROUP BY 1),
         |ct AS (SELECT b_bucket, SUM(n_cell) AS col_n FROM cells GROUP BY 1)
         |SELECT CAST(cells.a_bucket AS BIGINT) AS a_bucket,
         |       CAST(cells.b_bucket AS BIGINT) AS b_bucket,
         |       CAST(n_cell AS BIGINT) AS n_cell,
         |       CAST(row_n AS BIGINT) AS row_n, CAST(col_n AS BIGINT) AS col_n,
         |       CAST(n_cell * n - row_n * col_n AS BIGINT) AS dev_num
         |FROM cells JOIN rt USING (a_bucket) JOIN ct USING (b_bucket)
         |CROSS JOIN t""".stripMargin
    },
    "q200_release_scorecard" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      val entries = graft.ext.TextAnalysis.langMarkers.zipWithIndex.map { case ((l, _), i) =>
        s"struct_pack(ns := -(${dkLangScoreOn(l, "sent")}), i := $i, l := '$l')"
      }.mkString(",\n    ")
      s"""WITH cl AS (SELECT * FROM ($dedupClusterOracle)),
         |s0 AS (SELECT doc_id, string_split_regex(text, '[.!?]+ *') AS l
         |       FROM documents),
         |sx AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS idx, l FROM s0),
         |f AS (SELECT doc_id, l[idx] AS sent FROM sx WHERE length(trim(l[idx])) > 0),
         |p AS (SELECT doc_id, list_sort([
         |    $entries]) AS a FROM f),
         |sl AS (SELECT doc_id,
         |         CASE WHEN a[1].ns < 0 THEN a[1].l ELSE 'und' END AS slang
         |       FROM p),
         |mx AS (SELECT doc_id, COUNT(DISTINCT slang) > 1 AS is_mixed
         |       FROM sl GROUP BY doc_id),
         |base AS (SELECT d.doc_id,
         |    CAST(floor(LEAST(GREATEST(
         |      (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |      LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |      LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0)
         |      * 1000000.0) AS BIGINT) AS q6,
         |    (CAST(len(regexp_extract_all(text, '[{}()\\[\\];=<>]')) AS BIGINT)
         |       * 1048576) // GREATEST(CAST(length(text) AS BIGINT), 1)
         |    + (CAST(len(regexp_extract_all(lower(text),
         |         '\\b(def|class|return|import|if|else|for|while|function|var|const|void|int)\\b'))
         |         AS BIGINT) * 1048576)
         |      // GREATEST(CAST($nt AS BIGINT), 1) >= 131072 AS is_code,
         |    COALESCE(mx.is_mixed, false) AS is_mixed,
         |    cl.canonical_id IS NOT NULL AND cl.canonical_id <> d.doc_id AS removed
         |  FROM documents d
         |  LEFT JOIN mx ON mx.doc_id = d.doc_id
         |  LEFT JOIN cl ON cl.doc_id = d.doc_id),
         |a AS (SELECT COUNT(*) AS n_docs,
         |             SUM(CASE WHEN is_code THEN 1 ELSE 0 END) AS n_code,
         |             SUM(CASE WHEN is_mixed THEN 1 ELSE 0 END) AS n_mixed,
         |             SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS n_dup_removed,
         |             SUM(q6) AS sq6
         |      FROM base)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(n_code AS BIGINT) AS n_code,
         |       CAST(n_mixed AS BIGINT) AS n_mixed,
         |       CAST(n_dup_removed AS BIGINT) AS n_dup_removed,
         |       CAST((n_code * 1048576) // n_docs AS BIGINT) AS code_share_fp,
         |       CAST((n_mixed * 1048576) // n_docs AS BIGINT) AS mixed_share_fp,
         |       CAST((n_dup_removed * 1048576) // n_docs AS BIGINT) AS dup_share_fp,
         |       CAST(sq6 // n_docs AS BIGINT) AS mean_quality_e6
         |FROM a""".stripMargin
    },
    "q201_cluster_sizes" ->
      s"""WITH cl AS (SELECT * FROM ($dedupClusterOracle)),
         |sizes AS (SELECT canonical_id, COUNT(*) AS sz FROM cl GROUP BY 1),
         |prof AS (SELECT sz, COUNT(*) AS n_clusters FROM sizes GROUP BY 1),
         |singles AS (SELECT 1 AS sz,
         |    (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM cl)
         |      AS n_clusters),
         |m AS (SELECT sz, SUM(n_clusters) AS n_clusters FROM (
         |        SELECT * FROM prof UNION ALL SELECT * FROM singles)
         |      GROUP BY sz)
         |SELECT CAST(sz AS BIGINT) AS cluster_size,
         |       CAST(n_clusters AS BIGINT) AS n_clusters,
         |       CAST(sz * n_clusters AS BIGINT) AS n_docs
         |FROM m WHERE n_clusters > 0""".stripMargin,
    "q202_redundancy" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
         |s0 AS (SELECT doc_id AS id, $dkShingles AS sh FROM t),
         |s AS (SELECT id, unnest(sh) AS shingle FROM s0),
         |df AS (SELECT shingle, COUNT(*) AS df FROM s GROUP BY 1),
         |a AS (SELECT SUM(df) AS n_occ, COUNT(*) AS n_dist,
         |             SUM(CASE WHEN df > 1 THEN df ELSE 0 END) AS rep,
         |             SUM(df - 1) AS excess
         |      FROM df)
         |SELECT CAST(n_occ AS BIGINT) AS n_occurrences,
         |       CAST(n_dist AS BIGINT) AS n_distinct,
         |       CAST(rep AS BIGINT) AS repeated_occurrences,
         |       CAST(excess AS BIGINT) AS excess_occurrences,
         |       CAST((rep * 1048576) // n_occ AS BIGINT) AS redundancy_fp,
         |       CAST((excess * 1048576) // n_occ AS BIGINT) AS excess_fp
         |FROM a""".stripMargin,
    "q203_centroid_shift" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS g, g2.i AS pos,
        |    CAST(floor(CAST(embedding[g2.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |  FROM embeddings CROSS JOIN generate_series(1, 64) g2(i)),
        |m AS (SELECT g, list(mval ORDER BY pos) AS cv FROM (
        |        SELECT g, pos, CAST(SUM(qv) AS DOUBLE) / COUNT(*) / 1048576.0 AS mval
        |        FROM e GROUP BY 1, 2) GROUP BY g),
        |d AS (SELECT a.g AS group_a, b.g AS group_b,
        |        list_sum(list_transform(list_zip(a.cv, b.cv), x -> x[1] * x[2])) AS dotab,
        |        sqrt(list_sum(list_transform(a.cv, x -> x * x))) AS na,
        |        sqrt(list_sum(list_transform(b.cv, x -> x * x))) AS nb
        |      FROM m a JOIN m b ON a.g < b.g)
        |SELECT group_a, group_b,
        |       CAST(floor(dotab / (na * nb) * 1048576.0) AS BIGINT) AS cosine_fp
        |FROM d""".stripMargin,
    "q204_simhash_bias" -> {
      val sums = (0 until 60)
        .map(b => s"SUM(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n    ")
      val bits = (0 until 60)
        .map(b => s"CASE WHEN s$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok
         |           FROM documents),
         |h AS (SELECT doc_id, ${dkHash("tok", 0)} AS hv FROM t),
         |sm AS (SELECT doc_id,
         |    $sums
         |  FROM h GROUP BY doc_id),
         |sig AS (SELECT doc_id, $bits AS simhash FROM sm),
         |n AS (SELECT COUNT(*) AS n_docs FROM sig),
         |b AS (SELECT unnest(range(0, 60)) AS bit),
         |c AS (SELECT b.bit, SUM((sig.simhash >> b.bit) & 1) AS n_set
         |      FROM sig CROSS JOIN b GROUP BY b.bit)
         |SELECT CAST(bit AS BIGINT) AS bit, CAST(n_set AS BIGINT) AS n_set,
         |       CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST((n_set * 1048576) // n_docs AS BIGINT) AS share_fp
         |FROM c CROSS JOIN n""".stripMargin
    },
    "q205_vocab_growth" -> {
      val h = dkHash("CAST(doc_id AS VARCHAR)", 7)
      s"""WITH hd AS (SELECT doc_id, text, $h % 100 AS h FROM documents),
         |tok AS (SELECT 'token' AS space, h,
         |               unnest(string_split(lower(text), ' ')) AS el
         |        FROM hd),
         |shl AS (SELECT h, string_split(text, ' ') AS l FROM hd),
         |sh AS (SELECT 'shingle' AS space, h,
         |              unnest($dkShingles) AS el
         |       FROM shl),
         |u AS (SELECT * FROM tok UNION ALL SELECT * FROM sh),
         |g AS (SELECT space, f.pct, el
         |      FROM u CROSS JOIN (SELECT unnest([25, 50, 75, 100]) AS pct) f
         |      WHERE h < pct)
         |SELECT space, CAST(pct AS BIGINT) AS pct,
         |       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         |       CAST(COUNT(DISTINCT el) AS BIGINT) AS vocab
         |FROM g GROUP BY 1, 2""".stripMargin
    },
    "q206_split_representativeness" -> {
      val h = dkHash("CAST(doc_id AS VARCHAR)", 0)
      s"""WITH b AS (SELECT CASE WHEN hh < 80 THEN 'train'
         |                       WHEN hh < 90 THEN 'val'
         |                       ELSE 'test' END AS split,
         |                  lang AS stratum
         |           FROM (SELECT $h % 100 AS hh, lang FROM documents)
         |           WHERE lang IS NOT NULL),
         |cells AS (SELECT split, stratum, COUNT(*) AS n_cell FROM b GROUP BY 1, 2),
         |sp AS (SELECT split, SUM(n_cell) AS n_split FROM cells GROUP BY 1),
         |st AS (SELECT stratum, SUM(n_cell) AS n_stratum FROM cells GROUP BY 1),
         |t AS (SELECT SUM(n_cell) AS n FROM cells)
         |SELECT cells.split, cells.stratum, CAST(n_cell AS BIGINT) AS n_cell,
         |       CAST(n_split AS BIGINT) AS n_split,
         |       CAST(n_stratum AS BIGINT) AS n_stratum,
         |       CAST(n_cell * n - n_split * n_stratum AS BIGINT) AS dev_num
         |FROM cells JOIN sp USING (split) JOIN st USING (stratum)
         |CROSS JOIN t""".stripMargin
    },
    "q207_gate_cost_sweep" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      s"""WITH d AS (SELECT CAST(floor(LEAST(GREATEST(
         |        (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |        LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |        LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0)
         |        * 1000000.0) AS BIGINT) AS v,
         |      CAST($nt AS BIGINT) AS w
         |      FROM documents),
         |vals AS (SELECT v, COUNT(*) AS c, SUM(w) AS w FROM d GROUP BY 1),
         |cum AS (SELECT *,
         |    COALESCE(SUM(c) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
         |    COALESCE(SUM(w) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wb
         |  FROM vals),
         |t AS (SELECT SUM(c) AS n, SUM(w) AS tw FROM vals),
         |g AS (SELECT (cb * 10) // n AS bucket, v, cb, wb, n, tw
         |      FROM cum CROSS JOIN t)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |       CAST(MIN(v) AS BIGINT) AS threshold,
         |       CAST(MAX(n) - MIN(cb) AS BIGINT) AS kept_docs,
         |       CAST(MAX(tw) - MIN(wb) AS BIGINT) AS kept_weight,
         |       CAST(((MAX(n) - MIN(cb)) * 1048576) // MAX(n) AS BIGINT)
         |         AS kept_docs_fp,
         |       CAST(((MAX(tw) - MIN(wb)) * 1048576) // MAX(tw) AS BIGINT)
         |         AS kept_weight_fp
         |FROM g GROUP BY bucket""".stripMargin
    },
    "q208_contamination_scorecard" -> {
      val mins = (0 until 16).map(i => s"MIN(${dkMinhash("hb", i)}) AS mh$i").mkString(",\n  ")
      val bandUnion = (0 until 4).map { b =>
        s"SELECT id, $b AS band_idx, md5(concat_ws('|', mh${4 * b}, mh${4 * b + 1}, mh${4 * b + 2}, mh${4 * b + 3})) AS band_hash FROM mh"
      }.mkString("\n    UNION ALL ")
      s"""WITH bl AS (SELECT string_split(text,' ') AS l FROM documents
         |            WHERE doc_id % 7 = 0),
         |bg AS (SELECT unnest($dkShingles) AS gram FROM bl),
         |bh AS (SELECT DISTINCT ${dkHash("gram", 7)} AS gh FROM bg),
         |clx AS (SELECT doc_id, string_split(text,' ') AS l FROM documents
         |        WHERE doc_id % 7 <> 0),
         |cg AS (SELECT doc_id, $dkShingles AS grams FROM clx),
         |ce AS (SELECT doc_id, ${dkHash("gram", 7)} AS gh
         |       FROM (SELECT doc_id, unnest(grams) AS gram FROM cg) t),
         |hits AS (SELECT doc_id, COUNT(*) AS n_contaminated FROM ce
         |         WHERE gh IN (SELECT gh FROM bh) GROUP BY 1),
         |t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
         |s0 AS (SELECT doc_id AS id, $dkShingles AS sh FROM t),
         |s AS (SELECT id, unnest(sh) AS shingle FROM s0),
         |hb AS (SELECT id, ${dkHash("shingle", 0)} % ${graft.ext.Dedup.HashP} AS hb FROM s),
         |mh AS (SELECT id, $mins FROM hb GROUP BY id),
         |bands AS ($bandUnion),
         |cand AS (SELECT DISTINCT c.id AS corpus_id, b.id AS bench_id
         |         FROM bands c JOIN bands b ON c.band_idx = b.band_idx
         |          AND c.band_hash = b.band_hash
         |         WHERE c.id % 7 <> 0 AND b.id % 7 = 0),
         |sizes AS (SELECT id, COUNT(*) AS n FROM s GROUP BY id),
         |cmn AS (SELECT a.id AS corpus_id, b.id AS bench_id, COUNT(*) AS common
         |        FROM s a JOIN s b USING (shingle)
         |        WHERE a.id % 7 <> 0 AND b.id % 7 = 0 GROUP BY 1, 2),
         |ccd AS (SELECT cmn.* FROM cmn SEMI JOIN cand USING (corpus_id, bench_id)),
         |fzp AS (SELECT corpus_id FROM ccd
         |        JOIN sizes na ON na.id = corpus_id
         |        JOIN sizes nb ON nb.id = bench_id
         |        WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= 0.4),
         |fz AS (SELECT corpus_id AS doc_id, COUNT(*) AS n_fuzzy FROM fzp GROUP BY 1),
         |base AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams FROM cg)
         |SELECT base.doc_id, n_grams,
         |  CAST(COALESCE(n_contaminated, 0) AS BIGINT) AS n_contaminated,
         |  CAST(COALESCE(n_fuzzy, 0) AS BIGINT) AS n_fuzzy,
         |  CASE WHEN (CASE WHEN n_grams = 0 THEN 0.0
         |                  ELSE CAST(COALESCE(n_contaminated, 0) AS DOUBLE)
         |                         / CAST(n_grams AS DOUBLE) END) >= 0.2 THEN 'exact'
         |       WHEN COALESCE(n_fuzzy, 0) > 0 THEN 'fuzzy'
         |       ELSE 'clean' END AS verdict
         |FROM base LEFT JOIN hits USING (doc_id) LEFT JOIN fz USING (doc_id)""".stripMargin
    },
    "q209_pair_triage" -> {
      val mins = (0 until 16).map(i => s"MIN(${dkMinhash("hb", i)}) AS mh$i").mkString(",\n  ")
      val bandUnion = (0 until 4).map { b =>
        s"SELECT id, $b AS band_idx, md5(concat_ws('|', mh${4 * b}, mh${4 * b + 1}, mh${4 * b + 2}, mh${4 * b + 3})) AS band_hash FROM mh"
      }.mkString("\n    UNION ALL ")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
         |s0 AS (SELECT doc_id AS id, $dkShingles AS sh FROM t),
         |s AS (SELECT id, unnest(sh) AS shingle FROM s0),
         |hb AS (SELECT id, ${dkHash("shingle", 0)} % ${graft.ext.Dedup.HashP} AS hb FROM s),
         |mh AS (SELECT id, $mins FROM hb GROUP BY id),
         |bands AS ($bandUnion),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |         FROM bands a JOIN bands b ON a.band_idx = b.band_idx
         |          AND a.band_hash = b.band_hash AND a.id < b.id),
         |sizes AS (SELECT id, COUNT(*) AS n FROM s GROUP BY id),
         |c AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
         |      FROM s a JOIN s b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2),
         |cc AS (SELECT c.* FROM c SEMI JOIN cand USING (id_a, id_b)),
         |p AS (SELECT id_a, id_b, common, na.n AS n_a, nb.n AS n_b
         |      FROM cc JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
         |      WHERE common * 10 >= 3 * (na.n + nb.n - common))
         |SELECT id_a, id_b, CAST(common AS BIGINT) AS common,
         |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |       CAST((common * 1048576) // (n_a + n_b - common) AS BIGINT) AS jac_fp,
         |       CAST((common * 1048576) // n_a AS BIGINT) AS contain_a_fp,
         |       CAST((common * 1048576) // n_b AS BIGINT) AS contain_b_fp,
         |       CAST((LEAST(n_a, n_b) * 1048576) // GREATEST(n_a, n_b) AS BIGINT)
         |         AS len_ratio_fp
         |FROM p""".stripMargin
    },
    "q210_ivf_occupancy" ->
      s"""WITH $kmeansAssignCtes,
         |counts AS (SELECT cell, COUNT(*) AS n_vecs FROM assigned GROUP BY 1),
         |t AS (SELECT SUM(n_vecs) AS n FROM counts)
         |SELECT CAST(cell AS BIGINT) AS cell, CAST(n_vecs AS BIGINT) AS n_vecs,
         |       CAST((n_vecs * 1048576) // n AS BIGINT) AS share_fp
         |FROM counts CROSS JOIN t""".stripMargin,
    "q211_minhash_curve" -> {
      val mins = (0 until 16).map(i => s"MIN(${dkMinhash("hb", i)}) AS mh$i").mkString(",\n  ")
      val bandUnion = (0 until 4).map { b =>
        s"SELECT id, $b AS band_idx, md5(concat_ws('|', mh${4 * b}, mh${4 * b + 1}, mh${4 * b + 2}, mh${4 * b + 3})) AS band_hash FROM mh"
      }.mkString("\n    UNION ALL ")
      val matches = (0 until 16)
        .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
         |s0 AS (SELECT doc_id AS id, $dkShingles AS sh FROM t0),
         |s AS (SELECT id, unnest(sh) AS shingle FROM s0),
         |hb AS (SELECT id, ${dkHash("shingle", 0)} % ${graft.ext.Dedup.HashP} AS hb FROM s),
         |mh AS (SELECT id, $mins FROM hb GROUP BY id),
         |bands AS ($bandUnion),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |         FROM bands a JOIN bands b ON a.band_idx = b.band_idx
         |          AND a.band_hash = b.band_hash AND a.id < b.id),
         |sizes AS (SELECT id, COUNT(*) AS n FROM s GROUP BY id),
         |c AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
         |      FROM s a JOIN s b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2),
         |cc AS (SELECT c.* FROM c SEMI JOIN cand USING (id_a, id_b)),
         |m AS (SELECT cc.id_a, cc.id_b, common, na.n AS n_a, nb.n AS n_b,
         |             $matches AS est,
         |             common * 2 >= (na.n + nb.n - common) AS is_dup
         |      FROM cc JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
         |      JOIN mh sa ON sa.id = id_a JOIN mh sb ON sb.id = id_b),
         |g AS (SELECT f.t, est, is_dup
         |      FROM m CROSS JOIN (SELECT unnest(range(0, 17)) AS t) f),
         |a AS (SELECT t,
         |        SUM(CASE WHEN is_dup AND est >= t THEN 1 ELSE 0 END) AS tp,
         |        SUM(CASE WHEN NOT is_dup AND est >= t THEN 1 ELSE 0 END) AS fp,
         |        SUM(CASE WHEN is_dup AND est < t THEN 1 ELSE 0 END) AS fn
         |      FROM g GROUP BY 1)
         |SELECT CAST(t AS BIGINT) AS t, CAST(tp AS BIGINT) AS tp,
         |       CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
         |       CAST(CASE WHEN tp + fp > 0 THEN (tp * 1048576) // (tp + fp)
         |                 ELSE 0 END AS BIGINT) AS precision_fp,
         |       CAST(CASE WHEN tp + fn > 0 THEN (tp * 1048576) // (tp + fn)
         |                 ELSE 0 END AS BIGINT) AS recall_fp
         |FROM a""".stripMargin
    },
    "q212_approx_fds" -> {
      def branch(det: String, dep: String): String =
        s"""SELECT 'orders' AS table_name, '$det' AS determinant,
           |       '$dep' AS dependent,
           |       CAST(SUM(tot) AS BIGINT) AS n_rows,
           |       CAST(COUNT(*) AS BIGINT) AS n_det,
           |       CAST(SUM(tot) - SUM(mx) AS BIGINT) AS violations,
           |       SUM(tot) - SUM(mx) = 0 AS holds,
           |       CAST(((SUM(tot) - SUM(mx)) * 1048576) // SUM(tot) AS BIGINT)
           |         AS violation_fp
           |FROM (SELECT a, SUM(n) AS tot, MAX(n) AS mx FROM (
           |        SELECT $det AS a, $dep AS b, COUNT(*) AS n
           |        FROM orders GROUP BY 1, 2) GROUP BY a)""".stripMargin
      Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderstatus"),
        ("o_orderpriority", "o_orderstatus"))
        .map { case (a, b) => branch(a, b) }.mkString("\nUNION ALL\n")
    },
    "q213_cardinality_drift" -> {
      val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      val h = dkHash("CAST(o_orderkey AS VARCHAR)", 3)
      val dAggs = cols.map(c => s"COUNT(DISTINCT ROW($c)) AS d_$c").mkString(", ")
      val branches = cols.map { c =>
        s"""SELECT '$c' AS column_name, CAST(a.n AS BIGINT) AS n_a,
           |       CAST(b.n AS BIGINT) AS n_b,
           |       CAST(a.d_$c AS BIGINT) AS d_a, CAST(b.d_$c AS BIGINT) AS d_b,
           |       CAST(abs(a.d_$c * b.n - b.d_$c * a.n) AS BIGINT) AS dev_num
           |FROM ha a CROSS JOIN hb b""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH h AS (SELECT *, $h % 2 AS hh FROM orders),
         |ha AS (SELECT COUNT(*) AS n, $dAggs FROM h WHERE hh = 0),
         |hb AS (SELECT COUNT(*) AS n, $dAggs FROM h WHERE hh = 1)
         |$branches""".stripMargin
    },
    "q214_correlation" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def q(c: String) = s"CAST(floor(CAST($c AS DOUBLE) * 10000.0 + 0.5) AS HUGEINT)"
      val branches = cols.combinations(2).toSeq.map { case Seq(a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
           |  CAST(CASE WHEN n * ss_$a - s_$a * s_$a > 0
           |             AND n * ss_$b - s_$b * s_$b > 0
           |       THEN floor(CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE)
           |              / (sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE))
           |                 * sqrt(CAST(n * ss_$b - s_$b * s_$b AS DOUBLE)))
           |              * 1048576.0)
           |       ELSE 0 END AS BIGINT) AS r_fp
           |FROM m""".stripMargin
      }.mkString("\nUNION ALL\n")
      val sums = cols.flatMap(c =>
        Seq(s"SUM(${q(c)}) AS s_$c", s"SUM(${q(c)} * ${q(c)}) AS ss_$c")) ++
        cols.combinations(2).toSeq.map { case Seq(a, b) =>
          s"SUM(${q(a)} * ${q(b)}) AS sp_${a}_$b"
        }
      s"""WITH m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         |  ${sums.mkString(",\n  ")}
         |  FROM lineitem)
         |$branches""".stripMargin
    },
    "q215_seasonality" ->
      """WITH e AS (SELECT event_type,
        |    CAST(date_part('isodow', ts) - 1 AS BIGINT) AS dow,
        |    CAST(date_part('hour', ts) AS BIGINT) AS hod,
        |    CAST(ts AS DATE) AS d
        |  FROM events),
        |days AS (SELECT dow, COUNT(*) AS n_days FROM (
        |           SELECT DISTINCT dow, d FROM e) GROUP BY 1),
        |cells AS (SELECT event_type, dow, hod, COUNT(*) AS n_events
        |          FROM e GROUP BY 1, 2, 3)
        |SELECT event_type, cells.dow, hod, CAST(n_events AS BIGINT) AS n_events,
        |       CAST(n_days AS BIGINT) AS n_days,
        |       CAST((n_events * 1048576) // n_days AS BIGINT) AS rate_fp
        |FROM cells JOIN days ON cells.dow = days.dow""".stripMargin,
    "q216_correlation_by_source" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      s"""WITH d AS (SELECT source,
         |    CAST(floor(CAST(n_chars AS DOUBLE) * 10000.0 + 0.5) AS HUGEINT) AS x,
         |    CAST(floor(CAST(CAST(floor(LEAST(GREATEST(
         |        (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |        LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |        LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0)
         |        * 1000000.0) AS BIGINT) AS DOUBLE) * 10000.0 + 0.5) AS HUGEINT) AS y
         |  FROM documents),
         |a AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
         |        SUM(x) AS sx, SUM(y) AS sy,
         |        SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
         |      FROM d GROUP BY 1)
         |SELECT source, CAST(n AS BIGINT) AS n,
         |       CAST(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
         |            THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
         |                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
         |                   * 1048576.0)
         |            ELSE 0 END AS BIGINT) AS r_fp
         |FROM a""".stripMargin
    },
    "q217_charset_profile" ->
      """WITH c AS (SELECT source AS grp,
        |    CAST(length(text) AS BIGINT) AS t,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS l,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS d,
        |    CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS s
        |  FROM documents),
        |a AS (SELECT grp, COUNT(*) AS n_docs, SUM(t) AS n_chars,
        |             SUM(l) AS n_letters, SUM(d) AS n_digits, SUM(s) AS n_spaces
        |      FROM c GROUP BY 1)
        |SELECT grp, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(n_letters AS BIGINT) AS n_letters,
        |       CAST(n_digits AS BIGINT) AS n_digits,
        |       CAST(n_spaces AS BIGINT) AS n_spaces,
        |       CAST(n_chars - n_letters - n_digits - n_spaces AS BIGINT) AS n_other,
        |       CAST((n_letters * 1048576) // GREATEST(n_chars, 1) AS BIGINT)
        |         AS letter_fp,
        |       CAST(((n_chars - n_letters - n_digits - n_spaces) * 1048576)
        |            // GREATEST(n_chars, 1) AS BIGINT) AS other_fp
        |FROM a""".stripMargin,
    "q218_bm25" ->
      """WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |lens AS (SELECT doc_id,
        |           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
        |         FROM documents),
        |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS sum_dl FROM lens),
        |t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |      FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t
        |       WHERE term IN ('spark', 'hash', 'join', 'window') GROUP BY 1, 2),
        |idf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id, CAST(floor(
        |    (CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
        |      * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(tf AS DOUBLE)
        |         + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
        |                    / (CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE))))
        |    * 1048576.0) AS BIGINT) AS cfp
        |  FROM tf JOIN idf USING (term) JOIN lens USING (doc_id)
        |  CROSS JOIN nn CROSS JOIN tot)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |       CAST(SUM(cfp) AS BIGINT) AS score_fp
        |FROM sc GROUP BY doc_id
        |ORDER BY score_fp DESC, doc_id ASC LIMIT 20""".stripMargin,
    "q219_user_profile" ->
      """WITH tc AS (SELECT user_id, event_type, COUNT(*) AS c
        |            FROM events GROUP BY 1, 2),
        |sp AS (SELECT user_id, SUM(c) AS n_events, COUNT(*) AS n_types,
        |              SUM(c * (c - 1)) AS pairs_same
        |       FROM tc GROUP BY 1),
        |e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS tus, event_id
        |      FROM events),
        |w AS (SELECT user_id, tus,
        |        lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
        |      FROM e),
        |d AS (SELECT user_id, (tus - prev) // 1000000 AS ds
        |      FROM w WHERE prev IS NOT NULL),
        |tm AS (SELECT user_id, CAST(COUNT(*) AS HUGEINT) AS ng,
        |              SUM(CAST(ds AS HUGEINT)) AS s,
        |              SUM(CAST(ds AS HUGEINT) * CAST(ds AS HUGEINT)) AS s2
        |       FROM d GROUP BY 1)
        |SELECT sp.user_id, CAST(n_events AS BIGINT) AS n_events,
        |       CAST(n_types AS BIGINT) AS n_types,
        |       CAST(CASE WHEN n_events > 1
        |                 THEN (pairs_same * 1048576) // (n_events * (n_events - 1))
        |                 ELSE 0 END AS BIGINT) AS simpson_fp,
        |       CAST(COALESCE(s // ng, 0) AS BIGINT) AS mean_gap_s,
        |       CAST(COALESCE(CASE WHEN s = 0 THEN 0
        |                          ELSE ((ng * s2 - s * s) * 1048576) // (s * s)
        |                     END, 0) AS BIGINT) AS cv2_fp
        |FROM sp LEFT JOIN tm ON sp.user_id = tm.user_id""".stripMargin,
    "q220_conversion_lag" ->
      """WITH e AS (SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS tus
        |           FROM events),
        |f AS (SELECT user_id, MIN(tus) AS t_from FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |t AS (SELECT user_id, MIN(tus) AS t_to FROM e
        |      WHERE event_type = 'purchase' GROUP BY 1),
        |l AS (SELECT (t_to - t_from) // 1000000 AS lag_s
        |      FROM f JOIN t USING (user_id) WHERE t_to >= t_from),
        |b AS (SELECT lag_s,
        |        GREATEST(16, CAST(1 AS BIGINT)
        |          << length(bin(GREATEST(lag_s, 1) - 1))) AS bucket_s
        |      FROM l)
        |SELECT CAST(bucket_s AS BIGINT) AS bucket_s,
        |       CAST(COUNT(*) AS BIGINT) AS n_users,
        |       CAST(MIN(lag_s) AS BIGINT) AS min_lag_s,
        |       CAST(MAX(lag_s) AS BIGINT) AS max_lag_s
        |FROM b GROUP BY 1""".stripMargin,
    "q221_top_pc" -> {
      def iter(k: Int, prev: String): String =
        s"""n$k AS MATERIALIZED (SELECT gf.i, SUM(CAST(g_sum AS HUGEINT) * $prev.v) AS num
           |        FROM gf JOIN $prev ON gf.j = $prev.j GROUP BY 1),
           |m$k AS (SELECT MAX(abs(num)) AS mx FROM n$k),
           |v$k AS MATERIALIZED (SELECT i AS j, (num * 1048576) // mx AS v
           |        FROM n$k CROSS JOIN m$k)""".stripMargin
      s"""WITH q AS (SELECT list_transform(embedding,
         |             x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv
         |           FROM embeddings),
         |gu AS MATERIALIZED (SELECT CAST(gi.i - 1 AS INT) AS i, CAST(gj.j - 1 AS INT) AS j,
         |              CAST(SUM(qv[gi.i] * qv[gj.j]) AS BIGINT) AS g_sum
         |       FROM q CROSS JOIN generate_series(1, 64) gi(i)
         |              CROSS JOIN generate_series(1, 64) gj(j)
         |       WHERE gj.j >= gi.i GROUP BY 1, 2),
         |gf AS (SELECT i, j, g_sum FROM gu
         |       UNION ALL SELECT j, i, g_sum FROM gu WHERE i <> j),
         |v0 AS (SELECT unnest(range(0, 64)) AS j, CAST(1048576 AS HUGEINT) AS v),
         |${iter(1, "v0")},
         |${iter(2, "v1")},
         |${iter(3, "v2")}
         |SELECT CAST(j AS BIGINT) AS pos, CAST(v AS BIGINT) AS v_fp FROM v3""".stripMargin
    },
    "q222_anisotropy" -> {
      def iter(k: Int, prev: String): String =
        s"""n$k AS MATERIALIZED (SELECT gf.i, SUM(CAST(g_sum AS HUGEINT) * $prev.v) AS num
           |        FROM gf JOIN $prev ON gf.j = $prev.j GROUP BY 1),
           |m$k AS (SELECT MAX(abs(num)) AS mx FROM n$k),
           |v$k AS MATERIALIZED (SELECT i AS j, (num * 1048576) // mx AS v
           |        FROM n$k CROSS JOIN m$k)""".stripMargin
      s"""WITH q AS (SELECT list_transform(embedding,
         |             x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qv
         |           FROM embeddings),
         |gu AS MATERIALIZED (SELECT CAST(gi.i - 1 AS INT) AS i, CAST(gj.j - 1 AS INT) AS j,
         |              CAST(SUM(qv[gi.i] * qv[gj.j]) AS BIGINT) AS g_sum
         |       FROM q CROSS JOIN generate_series(1, 64) gi(i)
         |              CROSS JOIN generate_series(1, 64) gj(j)
         |       WHERE gj.j >= gi.i GROUP BY 1, 2),
         |gf AS (SELECT i, j, g_sum FROM gu
         |       UNION ALL SELECT j, i, g_sum FROM gu WHERE i <> j),
         |v0 AS (SELECT unnest(range(0, 64)) AS j, CAST(1048576 AS HUGEINT) AS v),
         |${iter(1, "v0")},
         |${iter(2, "v1")},
         |${iter(3, "v2")},
         |gv AS (SELECT gf.i, SUM(CAST(g_sum AS HUGEINT) * v3.v) AS num
         |       FROM gf JOIN v3 ON gf.j = v3.j GROUP BY 1),
         |r AS (SELECT SUM(v3.v * gv.num) AS vgv
         |      FROM v3 JOIN gv ON v3.j = gv.i),
         |s AS (SELECT SUM(v * v) AS vv FROM v3),
         |tr AS (SELECT SUM(CAST(g_sum AS HUGEINT)) AS trace FROM gu WHERE i = j)
         |SELECT CAST(trace AS BIGINT) AS trace,
         |       CAST(CASE WHEN vv = 0 OR trace = 0 THEN 0
         |                 ELSE (vgv * 1048576) // (vv * trace)
         |            END AS BIGINT) AS anisotropy_fp
         |FROM tr CROSS JOIN r CROSS JOIN s""".stripMargin
    },
    "q223_yield_curve_sampled" -> {
      val ha = dkHash("CAST(id_a AS VARCHAR)", 7)
      val hb = dkHash("CAST(id_b AS VARCHAR)", 7)
      val hd = dkHash("CAST(doc_id AS VARCHAR)", 7)
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS l
         |           FROM documents WHERE $hd % 100 < 20),
         |s0 AS (SELECT doc_id, $dkShingles AS sh FROM t),
         |s AS (SELECT doc_id, unnest(sh) AS tok FROM s0),
         |n AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY 1),
         |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |      FROM s a JOIN s b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |p AS (SELECT id_a, id_b
         |      FROM i JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
         |      WHERE inter * 2 >= (na.n + nb.n - inter)),
         |h AS (SELECT id_a, id_b, $ha % 100 AS ha, $hb % 100 AS hb FROM p),
         |fr AS (SELECT unnest([5, 10, 15, 20]) AS pct),
         |g AS (SELECT fr.pct, id_a, id_b
         |      FROM h CROSS JOIN fr
         |      WHERE ha < pct AND hb < pct),
         |pc AS (SELECT pct, COUNT(*) AS n_pairs FROM g GROUP BY 1),
         |dc AS (SELECT pct, COUNT(DISTINCT id) AS n_dup_docs FROM (
         |         SELECT pct, id_a AS id FROM g
         |         UNION ALL SELECT pct, id_b FROM g) GROUP BY 1)
         |SELECT CAST(fr.pct AS BIGINT) AS pct,
         |       CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
         |       CAST(COALESCE(n_dup_docs, 0) AS BIGINT) AS n_dup_docs
         |FROM fr LEFT JOIN pc USING (pct) LEFT JOIN dc USING (pct)""".stripMargin
    },
    "q224_ivf_curve" -> {
      val nrm = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
      s"""WITH prep AS (SELECT vec_id, embedding, $nrm AS nrm FROM embeddings),
         |ck AS (SELECT vec_id, embedding, nrm,
         |              ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
         |       FROM prep),
         |cent AS (SELECT CAST(rn - 1 AS INT) AS idx, embedding AS cvec, nrm AS cnrm
         |         FROM ck WHERE rn <= 16),
         |scores AS (SELECT p.vec_id, c.idx,
         |                  list_sum(list_transform(list_zip(p.embedding, c.cvec),
         |                    x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE))) / (p.nrm * c.cnrm) AS score
         |           FROM prep p CROSS JOIN cent c),
         |cells AS (SELECT vec_id, idx,
         |                 ROW_NUMBER() OVER (PARTITION BY vec_id
         |                   ORDER BY score DESC, idx ASC) AS crn
         |          FROM scores),
         |assigned AS (SELECT vec_id, idx AS cell FROM cells WHERE crn = 1),
         |probes AS (SELECT vec_id, idx AS cell, crn FROM cells
         |           WHERE vec_id < 10 AND crn <= 8),
         |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
         |                MIN(p.crn) AS first_depth
         |         FROM probes p JOIN assigned a USING (cell)
         |         WHERE p.vec_id <> a.vec_id GROUP BY 1, 2),
         |cs AS (SELECT cand.query_id, cand.neighbor_id, cand.first_depth,
         |              ${dkCosine("q", "c")} AS cos
         |       FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
         |                 JOIN embeddings c ON c.vec_id = cand.neighbor_id),
         |fr AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
         |swept AS (SELECT fr.nprobe, cs.* FROM cs CROSS JOIN fr
         |          WHERE cs.first_depth <= fr.nprobe),
         |tk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
         |                  ORDER BY cos DESC, neighbor_id ASC) AS rk FROM swept),
         |bscored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |                     ORDER BY ${dkCosine("q", "c")} DESC, c.vec_id ASC) AS brank
         |            FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |            WHERE q.vec_id < 10),
         |bf AS (SELECT query_id, neighbor_id FROM bscored WHERE brank <= 5),
         |hits AS (SELECT nprobe, COUNT(*) AS sum_hits
         |         FROM tk JOIN bf USING (query_id, neighbor_id)
         |         WHERE rk <= 5 GROUP BY 1),
         |costs AS (SELECT nprobe, COUNT(*) AS n_candidates FROM swept GROUP BY 1),
         |nq AS (SELECT COUNT(DISTINCT query_id) AS n_queries FROM bf)
         |SELECT CAST(fr.nprobe AS BIGINT) AS nprobe,
         |       CAST(n_queries AS BIGINT) AS n_queries,
         |       CAST(COALESCE(n_candidates, 0) AS BIGINT) AS n_candidates,
         |       CAST(COALESCE(sum_hits, 0) AS BIGINT) AS sum_hits,
         |       CAST(CASE WHEN n_queries > 0
         |                 THEN (COALESCE(sum_hits, 0) * 1048576) // (n_queries * 5)
         |                 ELSE 0 END AS BIGINT) AS recall_fp
         |FROM fr LEFT JOIN costs USING (nprobe) LEFT JOIN hits USING (nprobe)
         |CROSS JOIN nq""".stripMargin
    },
    // profileAuto routes to the EXACT path at oracle scale (lineitem's
    // footer count is far below the 50M default), so the oracle is q60's
    // SQL verbatim — the routing itself is what this query pins.
    "q225_profile_auto" -> {
      def one(c: String) =
        s"""SELECT '$c' AS column_name, COUNT($c) AS n,
           |  COUNT(*) - COUNT($c) AS n_null,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS DOUBLE) AS min_v, CAST(MAX($c) AS DOUBLE) AS max_v,
           |  CAST(SUM(CAST($c AS DECIMAL(18,4))) AS DOUBLE) / COUNT($c) AS mean_v
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(one).mkString("\nUNION ALL\n")
    },
    "q184_padding_efficiency" ->
      """WITH w AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS w
        |           FROM documents),
        |f AS (SELECT w, GREATEST(16, CAST(1 AS BIGINT) << length(bin(w - 1))) AS cap
        |      FROM w WHERE w > 0),
        |g AS (SELECT cap AS bucket_cap, COUNT(*) AS n_seqs, SUM(w) AS total_tokens
        |      FROM f GROUP BY 1)
        |SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
        |       CAST(n_seqs AS BIGINT) AS n_seqs,
        |       CAST(total_tokens AS BIGINT) AS total_tokens,
        |       CAST(n_seqs * bucket_cap AS BIGINT) AS padded_tokens,
        |       CAST(n_seqs * bucket_cap - total_tokens AS BIGINT) AS pad_waste,
        |       CAST((total_tokens * 1048576) // (n_seqs * bucket_cap) AS BIGINT) AS eff_fp
        |FROM g""".stripMargin,
    "q134_boilerplate_prefixes" ->
      """WITH c AS (SELECT source, substr(text, 1, 32) AS prefix, COUNT(*) AS n_docs
        |           FROM documents GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |r AS (SELECT source, prefix, n_docs,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |                           ORDER BY n_docs DESC, prefix ASC) AS rk
        |      FROM c)
        |SELECT source, prefix, n_docs, rk FROM r WHERE rk <= 3""".stripMargin,
    "q135_rank_fusion" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      val entries = graft.ext.TextAnalysis.langMarkers.zipWithIndex.map { case ((l, _), i) =>
        s"struct_pack(ns := -(${dkLangScore(l)}), i := $i, l := '$l')"
      }.mkString(",\n    ")
      s"""WITH s AS (SELECT doc_id, list_sort([
         |    $entries]) AS a FROM documents),
         |m AS (SELECT doc_id, CAST(a[2].ns - a[1].ns AS BIGINT) AS margin FROM s),
         |sig AS (SELECT d.doc_id,
         |    CAST(floor(LEAST(GREATEST(
         |      (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |      LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |      LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0) * 1000000.0)
         |      AS BIGINT) AS q_scaled,
         |    m.margin,
         |    CAST($nt AS BIGINT) AS n_tokens
         |  FROM documents d JOIN m ON m.doc_id = d.doc_id),
         |r AS (SELECT doc_id, q_scaled, margin, n_tokens,
         |    RANK() OVER (ORDER BY q_scaled) AS rank_q_scaled,
         |    RANK() OVER (ORDER BY margin) AS rank_margin,
         |    RANK() OVER (ORDER BY n_tokens) AS rank_n_tokens
         |  FROM sig)
         |SELECT doc_id, q_scaled, margin, n_tokens,
         |       rank_q_scaled, rank_margin, rank_n_tokens,
         |       rank_q_scaled + rank_margin + rank_n_tokens AS fused_rank_sum
         |FROM r""".stripMargin
    },
    "q133_compaction_plan" ->
      """WITH u AS (SELECT source AS unit, COUNT(*) AS n_rows FROM documents GROUP BY 1),
        |w AS (SELECT unit, n_rows,
        |        COALESCE(SUM(n_rows) OVER (ORDER BY unit
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_row
        |      FROM u)
        |SELECT unit, n_rows, CAST(start_row AS BIGINT) AS start_row,
        |       CAST(start_row // 120 AS BIGINT) AS group_id
        |FROM w""".stripMargin,
    "q132_schema_merge" -> {
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      val raw = tables.map(t =>
        s"SELECT '$t' AS t, lower(column_name) AS c, column_type AS ty FROM (DESCRIBE $t)")
        .mkString("\n    UNION ALL ")
      def rankOf(ty: String) = "CASE " + graft.ext.Drift.numericRank
        .map { case (t, r) => s"WHEN $ty = '$t' THEN $r" }
        .mkString(" ") + " ELSE NULL END"
      s"""WITH raw AS (
         |    $raw),
         |cat AS (
         |  SELECT t AS table_name, c AS column_name,
         |         CASE
         |           WHEN replace(lower(ty), '[]', '') = 'varchar' THEN 'string'
         |           WHEN replace(lower(ty), '[]', '') = 'blob' THEN 'binary'
         |           ELSE replace(lower(ty), '[]', '') END AS dt
         |  FROM raw),
         |b AS (SELECT table_name, column_name,
         |        CASE WHEN table_name = 'customer' AND column_name = 'c_acctbal'
         |               THEN 'decimal(12,2)'
         |             WHEN table_name = 'part' AND column_name = 'p_size'
         |               THEN 'bigint'
         |             WHEN table_name = 'supplier' AND column_name = 's_suppkey'
         |               THEN 'int'
         |             ELSE dt END AS dt
         |      FROM cat
         |      WHERE table_name <> 'events'
         |        AND NOT (table_name = 'lineitem' AND column_name = 'l_tax')
         |      UNION ALL SELECT 'documents', 'quality_score', 'double'),
         |j AS (SELECT COALESCE(a.table_name, b.table_name) AS table_name,
         |             COALESCE(a.column_name, b.column_name) AS column_name,
         |             a.dt AS type_old, b.dt AS type_new,
         |             ${rankOf("a.dt")} AS ro, ${rankOf("b.dt")} AS rn
         |      FROM cat a FULL OUTER JOIN b
         |        ON a.table_name = b.table_name AND a.column_name = b.column_name)
         |SELECT table_name, column_name,
         |       CASE WHEN type_old IS NULL THEN 'added'
         |            WHEN type_new IS NULL THEN 'old_only'
         |            WHEN type_old = type_new THEN 'unchanged'
         |            WHEN ro IS NOT NULL AND rn IS NOT NULL THEN 'widened'
         |            ELSE 'conflict' END AS action,
         |       COALESCE(type_old, '') AS type_old,
         |       COALESCE(type_new, '') AS type_new,
         |       CASE WHEN type_old IS NULL THEN type_new
         |            WHEN type_new IS NULL THEN type_old
         |            WHEN type_old = type_new THEN type_old
         |            WHEN ro IS NOT NULL AND rn IS NOT NULL THEN
         |              CASE WHEN ro >= rn THEN type_old ELSE type_new END
         |            ELSE '' END AS merged_type
         |FROM j""".stripMargin
    },
    "q103_pii_audit" -> {
      import graft.ext.Redaction
      val steps = Redaction.defaultRules.zipWithIndex.map { case (r, i) =>
        s"""r${i + 1} AS (SELECT * EXCLUDE (s),
           |  ${Redaction.matchCountSql("s", r)} AS n_${r.name},
           |  ${Redaction.redactSql("s", r)} AS s
           |FROM r$i)""".stripMargin
      }.mkString(",\n")
      val perRule = Redaction.defaultRules.map { r =>
        s"""SELECT '${r.name}' AS rule,
           |  CAST(SUM(CASE WHEN n_${r.name} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_${r.name}) AS BIGINT) AS n_hits
           |FROM r${Redaction.defaultRules.size}""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH r0 AS (SELECT c_custkey,
         |  c_name || ' bal ' ||
         |  CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS VARCHAR) AS s
         |FROM customer),
         |$steps
         |$perRule""".stripMargin
    },
    "q73_hash_split" ->
      s"""WITH s AS (SELECT lang, n_chars,
         |  CASE WHEN ${dkHash("CAST(doc_id AS VARCHAR)", 0)} % 100 < 80 THEN 'train'
         |       WHEN ${dkHash("CAST(doc_id AS VARCHAR)", 0)} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents)
         |SELECT split, lang, COUNT(*) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM s GROUP BY 1, 2""".stripMargin,
    "q74_chunks" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |n AS (SELECT doc_id, text,
        |             CASE WHEN len <= 0 THEN 1 ELSE ((len - 1) // 400) + 1 END AS nc
        |      FROM d),
        |e AS (SELECT doc_id, text, unnest(range(0, nc)) AS chunk_idx FROM n)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |       CAST(length(substr(text, CAST(chunk_idx * 400 + 1 AS INT), 500)) AS BIGINT)
        |         AS chunk_chars,
        |       md5(substr(text, CAST(chunk_idx * 400 + 1 AS INT), 500)) AS chunk_hash
        |FROM e""".stripMargin,
    "q75_mixture_sample" ->
      s"""WITH c AS (SELECT source, COUNT(*) AS n FROM documents
         |           WHERE source IN ('src0','src1','src2') GROUP BY 1),
         |w AS (SELECT * FROM (VALUES ('src0', 1), ('src1', 2), ('src2', 3)) AS t(source, wt)),
         |kept AS (SELECT d.source, d.n_chars
         |         FROM documents d JOIN c USING (source) JOIN w USING (source)
         |         WHERE (${dkHash("CAST(d.doc_id AS VARCHAR)", 0)} % 1000000) * (6 * c.n)
         |               < 300 * w.wt * 1000000)
         |SELECT source, COUNT(*) AS n_selected,
         |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM kept GROUP BY 1""".stripMargin,
    "q76_tfidf_terms" ->
      """WITH toks AS (SELECT lang, doc_id, string_split(lower(text), ' ') AS l
        |              FROM documents),
        |t AS (SELECT lang, doc_id,
        |             unnest(list_transform(generate_series(1, len(l) - 1),
        |                    i -> l[i] || ' ' || l[i + 1])) AS term
        |      FROM toks WHERE len(l) >= 2),
        |tf AS (SELECT lang, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (SELECT lang, term, tf, df, (tf * 1000000) // df AS score
        |      FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |      WHERE df * 2 <= n_docs),
        |r AS (SELECT lang, term, tf, df, score,
        |             ROW_NUMBER() OVER (PARTITION BY lang
        |               ORDER BY score DESC, term ASC) AS rank
        |      FROM s)
        |SELECT lang, term, tf, CAST(df AS BIGINT) AS df,
        |       CAST(score AS BIGINT) AS score, rank
        |FROM r WHERE rank <= 5""".stripMargin,
    "q77_curriculum" -> {
      val nt = "len(string_split(text,' '))"
      val alpha = "length(regexp_replace(lower(text),'[^a-z]','','g'))"
      s"""WITH q AS (SELECT doc_id, n_chars,
         |  LEAST(GREATEST(
         |    (CAST($alpha AS DOUBLE) / length(text)) * 0.5 +
         |    LEAST(CAST($nt AS DOUBLE) / 100.0, 1.0) * 0.3 +
         |    LEAST($dkAllStops / $nt * 10.0, 1.0) * 0.2, 0.0), 1.0) AS score
         |FROM documents),
         |hist AS (SELECT score, COUNT(*) AS hn FROM q GROUP BY 1),
         |cum AS (SELECT score,
         |               COALESCE(SUM(hn) OVER (ORDER BY score
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |        FROM hist),
         |total AS (SELECT COUNT(*) AS tot FROM q),
         |buck AS (SELECT score, (cb * 10) // tot AS bucket FROM cum CROSS JOIN total)
         |SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
         |       MIN(q.score) AS min_score, MAX(q.score) AS max_score,
         |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM q JOIN buck USING (score) GROUP BY 1""".stripMargin
    },
    "q78_ann_recall" -> annRecallOracle,
    "q83_incremental_dedup" ->
      s"""WITH pairs AS (SELECT id_a, id_b FROM ($nearDupOracle)),
         |inc AS (SELECT doc_id FROM documents WHERE source <> 'src0'),
         |old AS (SELECT doc_id FROM documents WHERE source = 'src0'),
         |m AS (SELECT i.doc_id AS d,
         |             CASE WHEN p.id_a = i.doc_id THEN p.id_b ELSE p.id_a END AS o
         |      FROM inc i JOIN pairs p ON p.id_a = i.doc_id OR p.id_b = i.doc_id),
         |f AS (SELECT d, o FROM m WHERE o IN (SELECT doc_id FROM old)
         |      UNION ALL
         |      SELECT d, o FROM m
         |      WHERE o IN (SELECT doc_id FROM inc) AND o < d),
         |g AS (SELECT d, COUNT(*) AS n_matches, MIN(o) AS dup_of FROM f GROUP BY d)
         |SELECT i.doc_id,
         |       CAST(COALESCE(n_matches, 0) AS BIGINT) AS n_matches,
         |       dup_of,
         |       COALESCE(n_matches, 0) > 0 AS is_dup
         |FROM inc i LEFT JOIN g ON g.d = i.doc_id""".stripMargin,
    "q87_epoch_sample" ->
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         |  ${dkHash("CAST(doc_id AS VARCHAR)", 0)} AS h
         |FROM documents),
         |o AS (SELECT doc_id,
         |             SUM(w) OVER (ORDER BY h, doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
         |             ROW_NUMBER() OVER (ORDER BY h, doc_id) AS epoch_rank
         |      FROM t)
         |SELECT doc_id, CAST(epoch_rank AS BIGINT) AS epoch_rank,
         |       CAST(cum_tokens AS BIGINT) AS cum_tokens,
         |       cum_tokens <= 30000 AS kept
         |FROM o""".stripMargin,
    "q88_bloom_prune" ->
      """WITH bk AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS bkey
        |            FROM customer WHERE c_mktsegment = 'BUILDING'),
        |bits AS (SELECT DISTINCT
        |           CAST(('0x'||substr(md5(bkey||'#'||CAST(31+i AS VARCHAR)),1,15)) AS BIGINT) % 2048 AS bit
        |         FROM bk, range(3) t(i)),
        |pb AS (SELECT o_orderkey,
        |              CAST(('0x'||substr(md5(CAST(o_custkey AS VARCHAR)||'#'||CAST(31+i AS VARCHAR)),1,15)) AS BIGINT) % 2048 AS bit
        |       FROM orders, range(3) t(i)),
        |pass AS (SELECT o_orderkey FROM pb JOIN bits USING (bit)
        |         GROUP BY o_orderkey HAVING count(*) = 3),
        |ex AS (SELECT count(*) AS exact_matches FROM orders
        |       WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'))
        |SELECT CAST(2048 AS BIGINT) AS m, CAST(3 AS BIGINT) AS k,
        |       (SELECT count(*) FROM bits) AS bits_set,
        |       (SELECT count(*) FROM orders) AS probe_rows,
        |       (SELECT count(*) FROM pass) AS bloom_pass,
        |       exact_matches,
        |       (SELECT count(*) FROM pass) - exact_matches AS false_positives
        |FROM ex""".stripMargin,
    "q89_cms_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |tok AS (SELECT token FROM t WHERE len(token) > 0),
        |top AS (SELECT token, count(*) AS exact_cnt FROM tok GROUP BY token
        |        ORDER BY exact_cnt DESC, token LIMIT 20),
        |sk AS (SELECT i AS row_i,
        |              CAST(('0x'||substr(md5(token||'#'||CAST(41+i AS VARCHAR)),1,15)) AS BIGINT) % 1024 AS pos,
        |              count(*) AS c
        |       FROM tok, range(4) r(i) GROUP BY 1, 2),
        |est AS (SELECT q.token, min(sk.c) AS cms_estimate
        |        FROM (SELECT token, i,
        |                CAST(('0x'||substr(md5(token||'#'||CAST(41+i AS VARCHAR)),1,15)) AS BIGINT) % 1024 AS pos
        |              FROM top, range(4) r(i)) q
        |        JOIN sk ON sk.row_i = q.i AND sk.pos = q.pos
        |        GROUP BY q.token)
        |SELECT top.token, CAST(exact_cnt AS BIGINT) AS exact_cnt,
        |       CAST(cms_estimate AS BIGINT) AS cms_estimate,
        |       CAST(cms_estimate - exact_cnt AS BIGINT) AS overestimate
        |FROM top JOIN est USING (token)""".stripMargin,
    "q90_hll_registers" ->
      s"""WITH h AS (SELECT ${dkHash("CAST(o_custkey AS VARCHAR)", 17)} AS h FROM orders),
         |b AS (SELECT h % 64 AS bucket, h // 64 AS rest FROM h),
         |z AS (SELECT bucket,
         |             least(length(bin(rest)) - length(rtrim(bin(rest), '0')) + 1, 55) AS rho
         |      FROM b)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(max(rho) AS BIGINT) AS max_rho
         |FROM z GROUP BY bucket""".stripMargin,
    "q91_incremental_rollup" ->
      """SELECT o_orderpriority,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q92_quantile_sketch" ->
      """WITH b AS (SELECT
        |    CAST(LEAST(GREATEST(floor((CAST(o_totalprice AS DOUBLE) - 0.0) / 10000.0),
        |                        0.0), 49.0) AS INT) AS bucket
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |h AS (SELECT bucket,
        |        0.0 + CAST(bucket AS DOUBLE) * 10000.0 AS lo_v,
        |        0.0 + CAST(bucket + 1 AS DOUBLE) * 10000.0 AS hi_v,
        |        COUNT(*) AS n
        |      FROM b GROUP BY bucket),
        |c AS (SELECT *,
        |        SUM(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        SUM(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS cum_before,
        |        SUM(n) OVER () AS total
        |      FROM h),
        |q AS (SELECT unnest([0.5, 0.9, 0.99]) AS p)
        |SELECT p, bucket,
        |       CAST(ceil(p * CAST(total AS DOUBLE)) AS BIGINT) AS rnk,
        |       lo_v + (CAST(CAST(ceil(p * CAST(total AS DOUBLE)) AS BIGINT) - cum_before AS DOUBLE)
        |               / CAST(n AS DOUBLE)) * (hi_v - lo_v) AS est
        |FROM q, c
        |WHERE cum >= CAST(ceil(p * CAST(total AS DOUBLE)) AS BIGINT)
        |  AND cum_before < CAST(ceil(p * CAST(total AS DOUBLE)) AS BIGINT)""".stripMargin,
    "q93_semantic_dedup" -> semanticDedupOracle,
    "q94_hard_negatives" -> hardNegativesOracle,
    "q95_distribution_drift" ->
      s"""WITH base AS (SELECT lang,
         |    ${dkHash("CAST(doc_id AS VARCHAR)", 0)} % 100 AS b FROM documents),
         |r AS (SELECT lang AS key, COUNT(*) AS n_ref FROM base WHERE b < 80 GROUP BY 1),
         |c AS (SELECT lang AS key, COUNT(*) AS n_cur FROM base WHERE b >= 20 GROUP BY 1),
         |j AS (SELECT COALESCE(r.key, c.key) AS key,
         |             COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
         |      FROM r FULL OUTER JOIN c ON r.key = c.key),
         |t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM j)
         |SELECT key, n_ref, n_cur,
         |       ROUND(CAST(n_ref AS DOUBLE) / t_ref, 6) AS share_ref,
         |       ROUND(CAST(n_cur AS DOUBLE) / t_cur, 6) AS share_cur,
         |       CAST(abs(CAST(n_ref AS HUGEINT) * t_cur
         |                - CAST(n_cur AS HUGEINT) * t_ref) AS BIGINT) AS drift_num
         |FROM j CROSS JOIN t""".stripMargin,
    "q96_snapshot_diff" ->
      s"""WITH base AS (SELECT doc_id, text, lang,
         |    ${dkHash("CAST(doc_id AS VARCHAR)", 0)} % 100 AS b FROM documents),
         |o AS (SELECT doc_id, md5(concat_ws('', text, lang)) AS d_old
         |      FROM base WHERE b < 80),
         |n AS (SELECT doc_id,
         |             md5(concat_ws('',
         |               CASE WHEN b % 7 = 0 THEN text || ' v2' ELSE text END,
         |               lang)) AS d_new
         |      FROM base WHERE b >= 20),
         |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, d_old, d_new
         |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT doc_id,
         |       CASE WHEN d_old IS NULL THEN 'added'
         |            WHEN d_new IS NULL THEN 'removed'
         |            WHEN d_old <> d_new THEN 'changed'
         |            ELSE 'unchanged' END AS status
         |FROM j""".stripMargin,
    "q97_trigram_diversity" ->
      """WITH t AS (SELECT doc_id, lower(text) AS txt FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(range(1, greatest(length(txt) - 2, 0) + 1),
        |               i -> substr(txt, CAST(i AS INT), 3))) AS gram
        |      FROM t),
        |c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id,
        |       CAST(SUM(c) AS BIGINT) AS n_trigrams,
        |       COUNT(*) AS n_distinct,
        |       CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS simpson_num,
        |       ROUND(1.0 - CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE)
        |             / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)), 6) AS diversity
        |FROM c GROUP BY doc_id""".stripMargin,
    "q98_retrieval" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |           FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
        |       WHERE term IN ('spark', 'hash', 'join', 'window') GROUP BY 1, 2),
        |d AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |idf AS (SELECT term, (1000000 * n) // df AS idf_milli FROM d CROSS JOIN n),
        |sc AS (SELECT doc_id, COUNT(*) AS n_terms,
        |              CAST(SUM(tf * idf_milli) AS BIGINT) AS score_num
        |       FROM tf JOIN idf USING (term) GROUP BY 1)
        |SELECT doc_id, n_terms, score_num FROM sc
        |ORDER BY score_num DESC, doc_id ASC LIMIT 20""".stripMargin,
    "q99_robust_scale" ->
      """WITH s AS (SELECT
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS p25,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS p75
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |       CASE WHEN p75 = p25 THEN 0.0
        |            ELSE ROUND((CAST(n_chars AS DOUBLE) - med) / (p75 - p25), 6)
        |       END AS robust_z
        |FROM documents CROSS JOIN s""".stripMargin,
    "q100_dimension_profile" ->
      """WITH e AS (SELECT g.i - 1 AS pos, CAST(embedding[g.i] AS DOUBLE) AS v
        |           FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i))
        |SELECT pos, COUNT(*) AS n,
        |       CAST(SUM(CAST(floor(v * 1048576.0) AS BIGINT)) AS BIGINT) AS qsum,
        |       MIN(v) AS min_v, MAX(v) AS max_v,
        |       CAST(SUM(CAST(floor(v * 1048576.0) AS BIGINT)) AS DOUBLE)
        |         / COUNT(*) / 1048576.0 AS mean_v
        |FROM e GROUP BY pos""".stripMargin,
    "q101_join_cardinality" ->
      """WITH l AS (SELECT o_orderkey AS key, COUNT(*) AS nl FROM orders GROUP BY 1),
        |r AS (SELECT l_orderkey AS key, COUNT(*) AS nr FROM lineitem GROUP BY 1),
        |j AS (SELECT l.key AS lk, r.key AS rk, nl, nr
        |      FROM l FULL OUTER JOIN r ON l.key = r.key)
        |SELECT CAST(SUM(nl) AS BIGINT) AS n_left,
        |       CAST(SUM(nr) AS BIGINT) AS n_right,
        |       COUNT(nl) AS n_keys_left,
        |       COUNT(nr) AS n_keys_right,
        |       CAST(SUM(CASE WHEN nl IS NOT NULL AND nr IS NOT NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_common_keys,
        |       CAST(COALESCE(SUM(CAST(nl AS HUGEINT) * nr), 0) AS BIGINT) AS join_rows,
        |       CAST(COALESCE(MAX(CAST(nl AS HUGEINT) * nr), 0) AS BIGINT) AS max_key_rows
        |FROM j""".stripMargin,
    "q102_containment" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents WHERE doc_id < 50),
         |s0 AS (SELECT doc_id AS id, $dkShingles AS sh FROM t),
         |s AS (SELECT id, unnest(sh) AS shingle FROM s0),
         |sizes AS (SELECT id, COUNT(*) AS n FROM s GROUP BY id),
         |c AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
         |      FROM s a JOIN s b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2)
         |SELECT id_a, id_b, common, n_a, n_b,
         |       CAST(common AS DOUBLE) / n_a AS contain_a,
         |       CAST(common AS DOUBLE) / n_b AS contain_b,
         |       CASE WHEN CAST(common AS DOUBLE) / n_a >= CAST(common AS DOUBLE) / n_b
         |            THEN id_a ELSE id_b END AS contained_id
         |FROM (SELECT c.id_a, c.id_b, c.common, na.n AS n_a, nb.n AS n_b
         |      FROM c JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b)
         |WHERE GREATEST(CAST(common AS DOUBLE) / n_a,
         |               CAST(common AS DOUBLE) / n_b) >= 0.05""".stripMargin,
    "q84_bpe_merge_pairs" ->
      """WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents),
        |p AS (SELECT unnest(list_transform(generate_series(1, length(t) - 1),
        |                    i -> substr(t, CAST(i AS INT), 2))) AS pair
        |      FROM tok WHERE length(t) >= 2),
        |c AS (SELECT pair, COUNT(*) AS count FROM p GROUP BY 1),
        |r AS (SELECT pair, count,
        |             ROW_NUMBER() OVER (ORDER BY count DESC, pair ASC) AS rank
        |      FROM c)
        |SELECT pair, count, rank FROM r WHERE rank <= 20""".stripMargin,
    "q85_embedding_outliers" ->
      """WITH prep AS (SELECT label,
        |  CAST(floor(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1048576.0) AS BIGINT) AS qn
        |  FROM embeddings),
        |st AS (SELECT label, COUNT(*) AS n, SUM(qn) AS s,
        |              SUM(CAST(qn AS HUGEINT) * qn) AS qq
        |       FROM prep GROUP BY 1),
        |j AS (SELECT p.label, p.qn, st.n, st.s, st.qq,
        |             (CAST(st.n AS HUGEINT) * p.qn - st.s) AS dev,
        |             (CAST(st.n AS HUGEINT) * st.qq - CAST(st.s AS HUGEINT) * st.s) AS varn2
        |      FROM prep p JOIN st USING (label))
        |SELECT label, COUNT(*) AS n_vectors,
        |       CAST(SUM(CASE WHEN dev * dev > 4 * varn2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outliers,
        |       CAST(MAX(s) AS DOUBLE) / MAX(n) / 1048576.0 AS mean_norm
        |FROM j GROUP BY 1""".stripMargin,
    "q79_event_dedup" ->
      """SELECT md5(CAST(user_id AS VARCHAR) || '#' || event_type || '#' || props)
        |         AS content_digest,
        |       MIN(event_id) AS keep_event_id, COUNT(*) AS n_copies
        |FROM events GROUP BY 1""".stripMargin,
    "q80_bigram_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
        |g AS (SELECT doc_id,
        |             unnest(list_transform(generate_series(1, len(l) - 1),
        |                    i -> l[i] || ' ' || l[i + 1])) AS gram
        |      FROM toks WHERE len(l) >= 2),
        |cf AS (SELECT gram, COUNT(*) AS freq FROM g GROUP BY 1),
        |pd AS (SELECT doc_id, COUNT(*) AS n_ngrams,
        |              CAST(SUM(freq) AS BIGINT) AS total_freq
        |       FROM g JOIN cf USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(COALESCE(n_ngrams, 0) AS BIGINT) AS n_ngrams,
        |       CAST(COALESCE(total_freq, 0) AS BIGINT) AS total_freq,
        |       CAST(CASE WHEN n_ngrams IS NULL THEN 0
        |                 ELSE (total_freq * 1000) // n_ngrams END AS BIGINT)
        |         AS mean_freq_milli
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,
    "q81_k_anonymity" ->
      """SELECT event_type,
        |       CAST(hour(ts) AS INT) AS hour_of_day,
        |       CAST(floor(value / 10) AS BIGINT) AS value_decile,
        |       COUNT(*) AS group_size,
        |       COUNT(*) >= 5 AS anonymous
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q82_centroid_classify" ->
      """WITH prep AS (SELECT vec_id, label, embedding FROM embeddings),
        |e AS (SELECT label, g.i AS pos,
        |             CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qv
        |      FROM prep CROSS JOIN generate_series(1, 64) AS g(i)),
        |m AS (SELECT label, pos,
        |             CAST(SUM(qv) AS DOUBLE) / COUNT(*) / 1048576.0 AS mval
        |      FROM e GROUP BY 1, 2),
        |cent AS (SELECT label, list(mval ORDER BY pos) AS cvec FROM m GROUP BY label),
        |cn AS (SELECT label, cvec,
        |              sqrt(list_sum(list_transform(cvec, x -> x * x))) AS cnrm
        |       FROM cent),
        |s AS (SELECT p.vec_id, p.label AS lbl, c.label AS clbl,
        |             list_sum(list_transform(list_zip(p.embedding, c.cvec),
        |               x -> CAST(x[1] AS DOUBLE) * x[2]))
        |             / (sqrt(list_sum(list_transform(p.embedding,
        |                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * c.cnrm) AS score
        |      FROM prep p CROSS JOIN cn c),
        |pred AS (SELECT vec_id, lbl, clbl,
        |                ROW_NUMBER() OVER (PARTITION BY vec_id
        |                  ORDER BY score DESC, clbl ASC) AS rn
        |         FROM s)
        |SELECT lbl AS label, clbl AS predicted, COUNT(*) AS n
        |FROM pred WHERE rn = 1 GROUP BY 1, 2""".stripMargin,
    "q70_segment_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
         |sg AS (SELECT doc_id,
         |              unnest(list_transform(range(0, (len(l)+19)//20),
         |                i -> struct_pack(idx := CAST(i AS INT),
         |                                 gh := ${dkHash("array_to_string(l[(i*20+1):(i*20+20)], ' ')", 11)}))) AS u
         |       FROM t),
         |s AS (SELECT doc_id, u.idx AS seg_idx, u.gh AS gh FROM sg),
         |r AS (SELECT doc_id, seg_idx, gh,
         |             ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, seg_idx) AS rn
         |      FROM s)
         |SELECT doc_id,
         |       COUNT(*) AS n_segments,
         |       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
         |FROM r GROUP BY doc_id""".stripMargin,
    "q67_decontaminate" ->
      s"""WITH bl AS (SELECT string_split(text,' ') AS l FROM documents WHERE source = 'src0'),
         |bg AS (SELECT unnest($dkShingles) AS gram FROM bl),
         |bh AS (SELECT DISTINCT ${dkHash("gram", 7)} AS gh FROM bg),
         |cl AS (SELECT doc_id, string_split(text,' ') AS l FROM documents WHERE source <> 'src0'),
         |cg AS (SELECT doc_id, $dkShingles AS grams FROM cl),
         |ce AS (SELECT doc_id, ${dkHash("gram", 7)} AS gh
         |       FROM (SELECT doc_id, unnest(grams) AS gram FROM cg) t),
         |hits AS (SELECT doc_id, COUNT(*) AS n_contaminated FROM ce
         |         WHERE gh IN (SELECT gh FROM bh) GROUP BY 1),
         |base AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams FROM cg)
         |SELECT base.doc_id, n_grams,
         |  COALESCE(n_contaminated, 0) AS n_contaminated,
         |  CASE WHEN n_grams = 0 THEN 0.0
         |       ELSE CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE)
         |  END AS contamination,
         |  (CASE WHEN n_grams = 0 THEN 0.0
         |        ELSE CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE)
         |   END) >= 0.2 AS contaminated
         |FROM base LEFT JOIN hits USING (doc_id)""".stripMargin,
    "q66_funnel" ->
      """WITH tagged AS (
        |  SELECT user_id, ts,
        |         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |                         WHEN 'purchase' THEN 3 END AS stage
        |  FROM events WHERE event_type IN ('view','click','purchase')),
        |seqs AS (
        |  SELECT user_id, list_sort(list(struct_pack(ts := ts, stage := stage))) AS ss
        |  FROM tagged GROUP BY user_id),
        |reached AS (
        |  SELECT user_id,
        |         list_reduce(
        |           list_prepend(struct_pack(ts := TIMESTAMP '1970-01-01', stage := 0), ss),
        |           (acc, x) -> CASE WHEN x.stage = acc.stage + 1
        |                             AND (acc.stage = 0 OR x.ts - acc.ts <= INTERVAL 24 HOUR)
        |                        THEN x ELSE acc END
        |         ).stage AS reached
        |  FROM seqs),
        |per_stage AS (
        |  SELECT unnest(range(1, reached + 1)) AS stage_idx FROM reached WHERE reached >= 1),
        |counts AS (SELECT stage_idx, COUNT(*) AS n_users FROM per_stage GROUP BY stage_idx)
        |SELECT CAST(stage_idx AS BIGINT) AS stage_idx,
        |       ['view','click','purchase'][CAST(stage_idx AS INT)] AS stage,
        |       n_users,
        |       CAST(n_users AS DOUBLE) / CAST(max(n_users) OVER () AS DOUBLE) AS conversion
        |FROM counts""".stripMargin,
    "q65_scd2" ->
      """WITH log AS (
        |  SELECT user_id, ts, max_by(event_type, event_id) AS state
        |  FROM events GROUP BY 1, 2),
        |flagged AS (
        |  SELECT user_id, ts, state,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
        |         lag(state) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM log),
        |changes AS (
        |  SELECT user_id, ts, state FROM flagged
        |  WHERE rn = 1 OR prev IS DISTINCT FROM state)
        |SELECT user_id, state,
        |       ts AS effective_from,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS effective_to,
        |       row_number() OVER (PARTITION BY user_id ORDER BY ts) AS version,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
        |FROM changes""".stripMargin,
    "q61_histogram" ->
      """WITH b AS (SELECT
        |    CAST(LEAST(GREATEST(floor((CAST(l_extendedprice AS DOUBLE) - 0.0) / 5000.0),
        |                        0.0), 19.0) AS INT) AS bucket,
        |    CAST(l_extendedprice AS DOUBLE) AS x
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT bucket,
        |  0.0 + CAST(bucket AS DOUBLE) * 5000.0 AS lo_v,
        |  0.0 + CAST(bucket + 1 AS DOUBLE) * 5000.0 AS hi_v,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
        |FROM b GROUP BY bucket""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q03_join_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q04_semi_join_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate >= TIMESTAMP '1995-06-01')
        |GROUP BY o_orderpriority""".stripMargin,
    "q05_anti_join_orphans" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2001-01-01')""".stripMargin,
    "q06_ri_overlap" ->
      """WITH src AS (SELECT DISTINCT o_custkey AS v FROM orders WHERE o_custkey IS NOT NULL),
        |     tgt AS (SELECT DISTINCT c_custkey AS v FROM customer),
        |     m AS (SELECT COUNT(*) AS matched FROM src WHERE v IN (SELECT v FROM tgt)),
        |     t AS (SELECT COUNT(*) AS total_src FROM src)
        |SELECT CAST(matched AS DOUBLE) / total_src AS ri_ratio,
        |       total_src - matched AS orphan_values,
        |       total_src
        |FROM m, t""".stripMargin,
    "q07_freq_distribution" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |       CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q08_cardinality_probe" ->
      """SELECT COUNT(*) AS n_rows,
        |       COUNT(DISTINCT o_custkey) AS n_custkeys,
        |       COUNT(DISTINCT o_orderstatus) AS n_statuses,
        |       COUNT(DISTINCT o_orderpriority) AS n_priorities
        |FROM orders""".stripMargin,
    "q09_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,
    "q10_union_distinct" ->
      """SELECT o_custkey AS k FROM orders
        |UNION
        |SELECT c_custkey AS k FROM customer""".stripMargin,
    "q11_distribution_similarity" ->
      """WITH a AS (SELECT l_returnflag AS v,
        |                  CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS p_a
        |           FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-01-01'
        |           GROUP BY l_returnflag),
        |     b AS (SELECT l_returnflag AS v,
        |                  CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS p_b
        |           FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |           GROUP BY l_returnflag)
        |SELECT AVG(1.0 - ABS(p_a - p_b)) AS similarity, COUNT(*) AS common_values
        |FROM a JOIN b USING (v)""".stripMargin,
    "q12_dedup_exact" ->
      """SELECT MD5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY MD5(text)""".stripMargin)
}
