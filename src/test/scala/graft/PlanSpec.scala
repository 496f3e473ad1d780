package graft

import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan regression tests: the scale properties SURVEY §4 calls out
  * (predicate pushdown, column pruning, broadcast dims, map-side partial
  * aggregation, semi-join shapes) must stay visible in explain output — a
  * plan that silently loses its pushdown still "passes correctness" while
  * being 100× slower at 100 TB, so the plan itself is under test.
  */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf0001).queryExecution.explainString(FormattedMode)

  test("q01: filter pushed to parquet, schema pruned, partial aggregation") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("partial_sum"), "map-side combine missing")
    assert(!p.contains("l_tax"), "reads more columns than the query needs")
  }

  test("q02: every predicate reaches the scan; only 6 of 11 columns read") {
    val p = plan("q02_filter_project")
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThan(l_quantity")
      .foreach(f => assert(p.contains(f), s"predicate not pushed: $f"))
    assert(!p.contains("l_returnflag"))
  }

  test("q03: dimension joins broadcast; fact side never shuffles for the dims") {
    val p = plan("q03_join_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q04: EXISTS compiles to a broadcast left-semi join") {
    val p = plan("q04_semi_join_exists")
    assert(p.contains("LeftSemi"))
  }

  test("q22: similarity inner loop uses the native dot product, not zip_with") {
    val p = plan("q22_cosine_pairs")
    assert(p.contains("dotproduct") || p.contains("DotProduct") || p.contains("graft_dot"),
      s"native expression missing from plan")
    assert(!p.contains("zip_with"))
  }

  test("q22/q51: cost-based pair dispatch — broadcast below cutover, bucketed LSH above") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, sf0001)
    // below the cutover the auto path SHOULD take the single broadcast
    // nested-loop stage (cheapest physical choice for a tiny corpus)
    val small = Similarity.cosinePairsAboveAuto(emb, 0.35)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(small.contains("BroadcastNestedLoopJoin"),
      "small corpus should dispatch to the broadcast pair stage")
    // above the cutover (forced here) the plan must be bucketed equi-joins:
    // nothing cartesian, no full-corpus broadcast anywhere
    val lsh = Similarity.cosinePairsAboveAuto(emb, 0.35, smallCorpusRows = 0)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!lsh.contains("CartesianProduct"), "LSH path: cartesian pair space")
    assert(!lsh.contains("BroadcastNestedLoopJoin"), "LSH path: corpus-broadcast BNLJ")
  }

  test("q16: batched data test scans each table once, no cartesian products") {
    val p = plan("q16_datatest_metrics")
    // 8 distinct tables feed the 8 detected edges. The stacked frequency
    // subtree appears under several consumers in the STATIC explain (runtime
    // exchange reuse dedupes it), so count unique scan paths, not scan nodes:
    // a 9th path would mean a per-edge read crept back in (SURVEY §7.4.4).
    val paths = "file:[^\\]]*/(\\w+)\\.parquet".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(paths.size <= 8, s"expected ≤8 distinct tables scanned, saw $paths")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_count"), "frequency aggregation lost map-side combine")
  }

  test("q38: near-dup verify never joins the global shingle stream") {
    // q38's operator through its Spark plan, which a small input would skip
    val p = graft.ext.Dedup.nearDuplicates(Tables.documents(spark, sf0001), "text", "doc_id", 0.5, -1, 0L)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("band_hash"), "the Spark plan, not the driver path")
    // candidate generation joins on (band_idx, band_hash); the verify join is
    // on candidate pair ids + shingle ARRAYS. A join keyed on an exploded
    // `shingle` column would be the quadratic all-pairs path coming back.
    assert(!p.contains("hashpartitioning(shingle"),
      "verify stage shuffles the exploded shingle stream")
    assert(!p.contains("CartesianProduct"))
  }

  test("q40/q43: ANN paths precompute norms before the pair stage") {
    Seq("q40_ann_lsh", "q43_ann_ivf").foreach { q =>
      val p = plan(q)
      assert(p.contains("dotproduct") || p.contains("DotProduct") || p.contains("graft_dot"),
        s"$q: native dot product missing")
      assert(!p.contains("zip_with"), s"$q: higher-order fold in the pair loop")
    }
  }

  test("q54: trained-IVF search is cell-keyed — no cartesian, native dots only") {
    val p = plan("q54_ann_ivf_trained")
    // the probe join must shuffle on the short cell id, never cross-join the
    // corpus; centroids are plan literals (driver-scale model)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("dotproduct") || p.contains("DotProduct") || p.contains("graft_dot"))
    assert(!p.contains("zip_with"))
  }

  test("q55: interval join is a single user-keyed shuffle join, predicates pushed") {
    val p = plan("q55_interval_join")
    // event_type filters reach both parquet scans
    assert(p.contains("EqualTo(event_type,click)"), "click filter not pushed")
    assert(p.contains("EqualTo(event_type,purchase)"), "purchase filter not pushed")
    // the time bounds are join-condition range predicates on an equi-keyed
    // join (user_id) — NOT a cartesian/broadcast-nested-loop over events
    assert(!p.contains("CartesianProduct"))
  }

  test("q56: SQL-registered scalars stay in whole-stage codegen") {
    val p = plan("q56_sql_text")
    // FormattedMode marks codegen'd operators with [codegen id : N]
    assert(p.contains("codegen id"))
    // no UDF nodes: the functions are pure built-in expression compositions
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"))
  }

  test("q72/q74: redaction and chunking are map-only — no exchange at all") {
    Seq("q72_pii_redact", "q74_chunks").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles — should pipeline with the scan")
      assert(!p.contains("ScalaUDF"), s"$q fell out of codegen into a UDF")
    }
  }

  test("q73: hash split aggregates with one shuffle and map-side combine") {
    val p = plan("q73_hash_split")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "map-side combine missing")
    assert(p.split("Exchange").length - 1 <= 2, // agg exchange (+AQE read)
      "split assignment must be map-side — only the final aggregate shuffles")
  }

  test("q77: curriculum bucket assignment broadcasts onto the corpus side") {
    val p = plan("q77_curriculum")
    // the corpus-side join against the (score → bucket) table must be a
    // broadcast hash join: a shuffled join would re-partition the whole
    // corpus just to attach a bucket id
    assert(p.contains("BroadcastHashJoin"), "bucket assignment not broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for the tiny histogram")
  }

  test("q82: centroid scoring is map-side with native dots; only the confusion matrix shuffles") {
    val p = plan("q82_centroid_classify")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("dotproduct") || p.contains("DotProduct") || p.contains("graft_dot"))
    assert(p.contains("partial_count"), "confusion matrix must combine map-side")
  }

  test("q83: incremental dedup joins stay bucket-/pair-keyed — no cartesian") {
    val p = plan("q83_incremental_dedup")
    // candidate generation is an equi-join on (band_idx, band_hash); verify
    // joins candidates to shingle ARRAYS per pair — a cross product anywhere
    // means the batch met the corpus pairwise
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"), "pair space not bucket-bounded")
  }

  test("q85: outlier gate is two aggregates and a broadcast of per-label stats") {
    val p = plan("q85_embedding_outliers")
    assert(p.contains("BroadcastHashJoin"), "per-label stats must broadcast back")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for a |labels|-row table")
    assert(p.contains("partial_sum"), "map-side combine missing")
  }

  test("q93: semantic dedup never crosses cells — block-keyed equi-joins only") {
    // the sf0.001 corpus is within the driver cutoff, where q93's plan is a
    // local scan: check the Spark plan that runs above it
    val p = graft.ext.Similarity
      .semanticDedup(Tables.embeddings(spark, sf0001), 0.3, 8, 2, "vec_id", "embedding", 4096, -1)
      .queryExecution.explainString(FormattedMode)
    // the intra-cell pair stage must be the salted (bucket, bi, bj) join,
    // and cell scoring must stay native-dot map-side; a cartesian or BNLJ
    // anywhere means the corpus met itself pairwise
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("dotproduct") || p.contains("DotProduct") || p.contains("graft_dot"))
  }

  test("q94: hard negatives ride the IVF probe join, label filter before ranking") {
    val p = plan("q94_hard_negatives")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"), "corpus must not broadcast against itself")
    // the label inequality must sit in the probe join stage, not after the
    // window: rank never sees same-label rows
    val windowAt = p.indexOf("Window")
    val labelFilterAt = p.indexOf("NOT (query_label")
    assert(labelFilterAt >= 0 || p.contains("query_label#"), "label predicate missing")
    if (windowAt >= 0 && labelFilterAt >= 0)
      assert(labelFilterAt > windowAt,
        "formatted plans list leaves below operators: the label filter must be " +
          "in the join subtree (printed after Window), not applied post-rank")
  }

  test("q95/q96: drift + diff reduce to digests/counts before their one join") {
    val p95 = plan("q95_distribution_drift")
    // per-key counts combine map-side; the totals row broadcasts
    assert(p95.contains("partial_count"), "drift counts must combine map-side")
    assert(!p95.contains("SortMergeJoin") || p95.contains("FullOuter"),
      "only the key-level full-outer join may shuffle")
    val p96 = plan("q96_snapshot_diff")
    assert(p96.contains("md5"), "diff must join digests, not payloads")
    assert(!p96.contains("CartesianProduct"))
  }

  test("q97: trigram diversity is map-only — native counting, zero shuffle") {
    val p = plan("q97_trigram_diversity")
    assert(!p.contains("Exchange"), "a per-doc metric must not shuffle at all")
    assert(!p.contains("Join"), "a per-doc metric must not join anything")
    assert(p.toLowerCase.contains("chartrigramstats"),
      "native counting expression missing")
  }

  test("q110: fuzzy join is a content-keyed equi-join — no cartesian, no broadcast of n²") {
    val p = plan("q110_fuzzy_join")
    assert(!p.contains("CartesianProduct"), "segment blocking must not degrade to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "must stay an equi-join on segment keys")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "expected a hash/merge equi-join on (l, i, seg)")
  }

  test("q111/q116: tiny budget tables broadcast onto the corpus side") {
    val p1 = plan("q111_temperature_mix")
    assert(p1.contains("BroadcastHashJoin"), "per-source budgets must broadcast")
    assert(!p1.contains("CartesianProduct"))
    val p2 = plan("q116_quota_admission")
    assert(!p2.contains("SortMergeJoin"), "admission must not shuffle-join the corpus")
  }

  test("quota backfill is a distributed top-k, not a global sort") {
    import spark.implicits._
    // source b under-fills its quota, so the backfill branch survives
    val df = ((1 to 30).map(i => (i.toLong, "a", i.toDouble)) ++
      Seq((99L, "b", 1.0))).toDF("id", "source", "score")
    val p = graft.ext.Sampling.admitWithQuota(df, "source", "id", "score", 10L)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("TakeOrderedAndProject"),
      "backfill must be a distributed top-k, not a global sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("q113: grouped sketch is one aggregate; quantile readout never re-reads data") {
    val p = plan("q113_group_quantiles")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "histogram aggregate must combine map-side")
    // one scan of documents feeds everything (readout runs on the sketch);
    // count detail headers "(n) Scan parquet", one per distinct scan node
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size === 1,
      "quantile readout must not trigger a second scan")
  }

  test("q114: anomaly window rides ONE key shuffle over the pre-aggregated counts") {
    val p = plan("q114_rate_anomalies")
    assert(!p.contains("Join"), "rolling MAD must not self-join the series")
    // hourly agg shuffle + window-by-key shuffle; nothing else
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "expected at most the aggregate + window shuffles")
  }

  test("q191: JL projection is map-only — no exchange anywhere in the plan") {
    val p = plan("q191_jl_project")
    assert(!p.contains("Exchange"), "projection must not shuffle")
    assert(!p.contains("Join"))
    assert(p.contains("graftdot") || p.toLowerCase.contains("dotproduct"),
      "native dot product expected in the projection")
  }

  test("q185: silhouette scoring is map-side; only the final per-cell aggregate shuffles") {
    val p = plan("q185_silhouette")
    assert(!p.contains("Join"), "scoring must not join the corpus")
    // one exchange node for the ≤nlist-row groupBy(cell); nothing else
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size === 1,
      "expected exactly the per-cell aggregation shuffle")
  }

  test("q193: inter-arrival moments combine map-side after the per-stream window") {
    val p = plan("q193_interarrival")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "moment aggregation must be partial")
    assert(!p.contains("Join"), "CV2 must come from moments, not a self-join")
  }

  test("profile routes: exact splits distinct branches (no Expand), approx rides HLL++") {
    import graft.analyze.Profiler
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    // the profile surfaces localize the wide row (their own explain is a
    // LocalTableScan), so the plan under test is the shared wide aggregate
    val pExact = Profiler.profileWideAgg(li, cols, None)
      .queryExecution.explainString(FormattedMode)
    // exact distincts are split into per-column two-phase branches — the
    // single-agg form compiled to a row-duplicating multi-distinct Expand
    assert(!pExact.contains("Expand"),
      "exact route must not pay the multi-distinct Expand")
    assert(pExact.contains("BroadcastNestedLoopJoin"),
      "single-row branch assembly must be broadcast")
    assert(pExact.contains("partial_count(distinct"),
      "exact distinct branches must partial-aggregate map-side")
    val pApprox = Profiler.profileWideAgg(li, cols, Some(0.023))
      .queryExecution.explainString(FormattedMode)
    assert(!pApprox.contains("Expand"),
      "approx route must not pay the exact-distinct Expand shuffle")
    assert(pApprox.toLowerCase.contains("approx_count_distinct") ||
      pApprox.toLowerCase.contains("hyperloglog"),
      "approx route must use the HLL++ sketch")
    assert(pApprox.contains("partial_"), "sketch aggregation must combine map-side")
  }

  test("mmr argmax rounds after the first read the persisted candidates, not the scan") {
    import graft.ext.Similarity
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cand = Similarity.mmrCandidateFrame(emb, 0L, "vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      cand.count() // round 1 materializes the cache
      // a later round's filter+argmax over the same frame (what mmrSelect
      // runs k−1 more times) must be served from memory, not re-scanned
      val round2 = cand.filter(cand("id") =!= 1L)
        .orderBy(cand("rel").desc).limit(1)
        .queryExecution.executedPlan.toString
      assert(round2.contains("InMemoryTableScan"),
        "later rounds must read the cached candidate relation")
      // the executing plan above the InMemoryRelation (whose description
      // embeds the ORIGINAL scan pipeline, not what runs) must hold no scan
      val executing = round2.split("InMemoryRelation").head
      assert(!executing.contains("FileScan"),
        "later rounds must not re-run the parquet scan pipeline")
    } finally cand.unpersist(true)
  }

  test("percentile routes: exact rides counts+ranks, approx rides the mergeable sketch") {
    import graft.analyze.Profiler
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val ps = Seq(0.25, 0.5, 0.75)
    val pExact = Profiler.percentileWideAgg(li, "l_quantity", ps, None)
      .queryExecution.explainString(FormattedMode)
    // the exact route must NOT take the builtin value-buffering percentile
    // aggregate (per-partition boxed value→count maps merged and sorted on
    // one task): it aggregates counts per distinct value (codegen'd,
    // map-side combined) and reads ranks off one cumulative window
    assert(!pExact.contains("percentile("),
      "exact route must not buffer per-partition values")
    assert(pExact.contains("partial_count"),
      "exact route's value-count aggregate must combine map-side")
    assert(pExact.contains("Window"),
      "exact route reads ranks off a cumulative-count window")
    val pApprox = Profiler.percentileWideAgg(li, "l_quantity", ps, Some(10000))
      .queryExecution.explainString(FormattedMode)
    assert(pApprox.contains("percentile_approx"),
      "approx route must use the mergeable quantile sketch")
    // no per-partition value-buffering aggregate anywhere in the approx
    // plan: "percentile(" is the exact buffering aggregate's signature
    // ("percentile_approx(" never matches it)
    assert(!pApprox.contains("percentile("),
      "approx route must not buffer per-partition values")
    assert(pApprox.contains("partial_"), "sketch aggregation must combine map-side")
  }

  test("q230: the CMS sketch attaches by broadcast, never a shuffled join") {
    val p = plan("q230_cms_error_profile")
    assert(p.contains("BroadcastHashJoin"),
      "sketch (depth×width rows) must broadcast to the estimation side")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-scale shuffle join belongs in sketch estimation")
  }

  test("q233: waterfilling windows run over the per-source aggregate, not documents") {
    val p = plan("q233_source_caps")
    // the sort window must consume an aggregated (HashAggregate) input —
    // sources, never raw docs; the 1-row level attaches as a broadcast
    assert(p.contains("Window"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "level/total rows must attach by broadcast")
    assert(!p.contains("SortMergeJoin"),
      "no shuffled join belongs in source-cap planning")
  }

  test("q207: gate-cost sweep windows run over the distinct-value table only") {
    val p = plan("q207_gate_cost_sweep")
    // static explain duplicates shared subtrees (exchange reuse happens at
    // runtime), so assert distinct SCAN PATHS, not scan-node counts: the
    // sweep touches only the documents table
    val paths = """documents\.parquet""".r.findAllIn(p).size
    assert(paths >= 1 && """Scan parquet""".r.findAllIn(p).nonEmpty)
    assert(!p.contains("lineitem"), "sweep must not touch other tables")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "value-count aggregation must combine map-side")
    // the only join is the 1-row totals broadcast; nothing corpus-sized is
    // ever joined or sort-merge-shuffled
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "sweep must not shuffle-join")
  }

  test("q247: benchmark gram set attaches by broadcast; hits filter map-side") {
    val p = plan("q247_contaminated_spans")
    assert(p.contains("BroadcastHashJoin"),
      "the benchmark gram set (eval-suite-sized) must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus gram stream must never shuffle for the benchmark join")
  }

  test("corpus gram paths run native kernels: no lambda, no md5 -> conv chain") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{Conv, LambdaFunction, Md5}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.functions.col
    import graft.ext.{Decontaminate, Dedup}
    val helper = new AdaptiveSparkPlanHelper {}
    // every expression node of the executed plan, final AQE stages and
    // subqueries included
    def interpreted(df: DataFrame): Seq[String] = {
      df.collect()
      helper.collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
        .flatMap(_.expressions.flatMap(_.collect {
          case e @ (_: LambdaFunction | _: Conv | _: Md5) => e.nodeName
        }))
    }
    val docs = Tables.documents(spark, sf0001)
    val bench = docs.where(col("doc_id") % 5 === 0)
    // the Spark plan, which a small input would skip
    assert(interpreted(Decontaminate.contamination(docs, bench, "doc_id", "text", 3, 0.2, 7, -1, -1)).isEmpty)
    assert(interpreted(Dedup.minhashSignatures(docs)).isEmpty)
  }

  test("q248: sorted-neighborhood is windows only — no join anywhere") {
    val p = plan("q248_sorted_neighbors")
    assert(p.contains("Window"), "the neighbor scan is a lag window")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("ShuffledHashJoin"),
      "sorted-neighborhood blocking must not join — cost is exactly window·n")
  }

  test("q257: PPM decode is one bounded pixel walk — no join, map-side combine") {
    val p = plan("q257_ppm_stats")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "decode must be a single scan's explode, never a join")
    assert(p.contains("Generate"), "the pixel walk is an engine-side explode")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-asset channel sums must combine map-side")
  }

  test("q258: shared-run mining anchors on the pinned fingerprint frame — no all-pairs") {
    val p = plan("q258_shared_runs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate pairs come from fingerprint equi-joins, never all-pairs")
    // the winnowed fingerprint frame is pinned (localCheckpoint) so the two
    // pair-join branches read the cached relation instead of re-running the
    // winnow pipeline per branch
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "fingerprint frame must be pinned, not re-derived per branch")
    assert(p.contains("Window"), "runs group by diagonal via a window, not a self-join")
  }

  test("q259: pair coverage rides one pass over the pinned match set — no all-pairs") {
    val p = plan("q259_pair_coverage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "coverage pairs come from fingerprint equi-joins, never all-pairs")
    assert(p.contains("ExistingRDD"),
      "candidate grams must be pinned, not re-derived per side")
    // the two sides' covered positions come from ONE explode pass with a
    // side tag, not a per-side re-join of the match build
    assert(p.contains("Generate"), "covered positions explode engine-side")
  }

  test("q246: packing curve has no bin-keyed aggregation — one capacity-keyed pass") {
    val p = plan("q246_packing_curve")
    // interval arithmetic on the shared prefix sum: nothing in the plan
    // groups by bin (whose cardinality grows with the corpus); the only
    // hash aggregations key on capacity (5 rows) and the prefix-sum buckets
    assert(!p.contains("SortMergeJoin"), "curve must not shuffle-join")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "capacity aggregation must combine map-side")
  }

  test("q260: QOI decode is one scalar pass per asset — no join, no explode") {
    val p = plan("q260_qoi_stats")
    // the sequential decoder aggregates inside the expression: unlike the
    // BMP/PPM pixel walks there is nothing to explode and nothing to join
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastHashJoin"),
      "decode must be a single projection over the asset scan")
    assert(!p.contains("Generate"),
      "QOI decodes inside one native expression — no per-pixel explode")
  }

  test("q262: dhash is one native scalar pass — map-only, no explode, no shuffle") {
    val p = plan("q262_image_dhash")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastHashJoin"),
      "dhash is a per-asset scalar, never a join")
    // the round-9 exploded pipeline shipped 72 cells per asset through a
    // shuffle and its fused pivot stage fell back interpreted; the native
    // walk decodes inside the scan stage and ships 3 longs per asset
    assert(!p.contains("Generate"),
      "dhash decodes inside one native expression — no per-pixel explode")
    assert(!p.contains("Exchange"),
      "the grid walk aggregates inside the expression — nothing shuffles")
  }

  test("q263: near-dup candidates come from the band equi-join of the pinned hash frame") {
    val p = plan("q263_dhash_near_dup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates come from band-bucket equi-joins, never all-pairs")
    // both join sides must read the pinned per-asset hash frame, not
    // re-run the whole decode per side
    assert(p.contains("ExistingRDD"),
      "hash frame must be pinned, not re-derived per branch")
  }

  test("q264: audio fingerprint explodes a FIXED prefix and combines map-side") {
    val p = plan("q264_audio_fingerprint")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "fingerprinting is explode + aggregate + per-asset window, never a join")
    assert(p.contains("partial_sum"),
      "window energies must combine map-side")
    // the adjacent comparison partitions by asset — a global sort of the
    // window stream would serialize the corpus through one partition
    assert(p.contains("Window") && !p.contains("Sort [w"),
      "lead() must run per-asset, not globally sorted")
  }

  test("q265: audio near-dup rides the same pinned band equi-join as images") {
    val p = plan("q265_audio_near_dup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates come from band-bucket equi-joins, never all-pairs")
    assert(p.contains("ExistingRDD"),
      "fingerprint frame must be pinned, not re-derived per branch")
  }

  test("q266: Y4M frame walk is one native pass + a per-FRAME explode, no shuffle") {
    val p = plan("q266_y4m_frames")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the container walk must be a single scan's projection, never a join")
    // the only Generate is the posexplode of the per-FRAME struct array
    // (the asset's natural output granularity) — pixels and rows never
    // materialize, and nothing aggregates or shuffles downstream
    assert(p.contains("Generate"), "frames posexplode engine-side")
    assert(!p.contains("Exchange"),
      "per-frame sums come out of the native walk — nothing shuffles")
    assert(!p.contains("partial_sum"),
      "no aggregate remains: the walk already summed each frame's plane")
  }

  test("q268: PNG decode is one scalar pass per asset — no join, no explode") {
    val p = plan("q268_png_stats")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastHashJoin"),
      "decode must be a single projection over the asset scan")
    assert(!p.contains("Generate"),
      "PNG inflates + unfilters inside one native expression — no explode")
    assert(!p.contains("Exchange"),
      "per-asset stats come out of the expression — nothing shuffles")
  }

  test("q271: lossless-JPEG decode is one scalar pass — no join, no explode") {
    val p = plan("q271_jpegll_stats")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastHashJoin"),
      "decode must be a single projection over the asset scan")
    assert(!p.contains("Generate"),
      "the Huffman bitstream decodes inside one native expression")
    assert(!p.contains("Exchange"),
      "per-asset stats come out of the expression — nothing shuffles")
  }

  test("q270: whole-corpus Y4M walk keeps the q266 shape (no shuffle)") {
    val p = plan("q270_y4m_scale")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the container walk must be a single scan's projection, never a join")
    assert(!p.contains("Exchange"),
      "per-frame sums come out of the native walk — nothing shuffles")
  }

  test("q267: scene cuts lag over the per-frame aggregate, partitioned by asset") {
    val p = plan("q267_scene_cuts")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "cut detection must not join")
    assert(p.contains("Window"), "the adjacent-frame compare is a lag window")
    // the window partitions by asset: an unpartitioned window would show
    // a SinglePartition exchange and serialize the corpus frame stream
    assert(!p.contains("SinglePartition"), "lag must run per-asset")
  }
}
