package graft.datatest

import graft.catalog.ParquetCatalog
import graft.core.DetectionConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-level relationship validation (SURVEY §2.4 A1-A4, A9-A10; §2.3
  * J9-J10) — the reference's DataRelationshipTester
  * (data_relationship_tester.py:42-387) re-expressed as one Spark plan over
  * a whole edge set ([[testRelationships]]).
  *
  * Scale notes (SURVEY §7.4.4): the reference samples each endpoint with a
  * per-pair `LIMIT n` SQL query. A LIMIT at 100 TB reads one partition's
  * skew; we use `sample(fraction)` (uniform across partitions) or the full
  * column — and the distinct-before-join shrinks every shuffle to key
  * cardinality.
  */
object DataTester {

  /** A4 — weighted overall confidence: 0.5·RI + 0.3·type + 0.2·distribution,
    * clamped to [0,1] (data_relationship_tester.py:300-326).
    */
  def overallConfidence(ri: org.apache.spark.sql.Column,
      typeCompat: org.apache.spark.sql.Column,
      distSim: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(greatest(ri * 0.5 + typeCompat * 0.3 + distSim * 0.2, lit(0.0)), lit(1.0))

  /** A9 — post-test confidence adjustment: pass → min(1, c+boost);
    * fail → max(0.1, c−penalty) (enhanced_relationship_detector.py:184-195).
    * Kept as a separate boolean `data_validated` column instead of mutating
    * relationship_type (the reference's type-unsoundness, SURVEY §2.11).
    *
    * When `cfg.maxOrphanPercentage < 1` or
    * `cfg.distributionSimilarityThreshold > 0` (DataTestingConfig knobs the
    * reference parses but never consumes — dead config made live here), the
    * pass additionally requires orphan% (`orphan_values / total_src`) at or
    * under the max and `dist_similarity` at or over the threshold; `rels`
    * must then carry those testRelationships columns. At the defaults the
    * predicate compiles to the reference's confidence-only gate and no
    * extra columns are referenced.
    */
  def adjustConfidence(rels: DataFrame, cfg: DetectionConfig = DetectionConfig()): DataFrame = {
    var passed = col("overall_confidence") >= cfg.dataTestPassThreshold
    if (cfg.maxOrphanPercentage < 1.0)
      passed = passed && (
        when(col("total_src") === 0, lit(0.0))
          .otherwise(col("orphan_values").cast("double") / col("total_src"))
          <= cfg.maxOrphanPercentage)
    if (cfg.distributionSimilarityThreshold > 0.0)
      passed = passed && col("dist_similarity") >= cfg.distributionSimilarityThreshold
    rels
      .withColumn("data_validated", passed)
      .withColumn(
        "adjusted_confidence",
        when(col("data_validated"), least(col("confidence") + cfg.dataTestBoost, lit(1.0)))
          .otherwise(greatest(col("confidence") - cfg.dataTestPenalty, lit(0.1))))
  }

  /** A10 — Cochran sample size: n0 = z²·p(1−p)/moe², with finite-population
    * correction (data_relationship_tester.py:360-387). Pure driver math.
    */
  def cochranSampleSize(
      populationSize: Long,
      confidenceLevel: Double = 0.95,
      marginOfError: Double = 0.05): Long = {
    val z = confidenceLevel match {
      case cl if cl >= 0.99 => 2.576
      case cl if cl >= 0.95 => 1.96
      case _                => 1.645
    }
    val p = 0.5
    val n0 = z * z * p * (1 - p) / (marginOfError * marginOfError)
    val n = if (populationSize > 0) n0 / (1 + (n0 - 1) / populationSize.toDouble) else n0
    math.max(1L, math.ceil(n).toLong)
  }

  /** A10→S6 wiring — adaptive sampling fraction for a table: the Cochran
    * sample size over the (footer-derived) row count, as a Bernoulli
    * fraction (data_relationship_tester.py:328-358's adaptive loop, made a
    * pure function of population size). Small tables sample 1.0; a 10^9-row
    * table samples ~4·10^-7 — the data-test cost becomes O(√precision), not
    * O(rows).
    */
  def cochranFraction(
      populationSize: Long,
      confidenceLevel: Double = 0.95,
      marginOfError: Double = 0.05): Double =
    if (populationSize <= 0) 1.0
    else math.min(1.0,
      cochranSampleSize(populationSize, confidenceLevel, marginOfError).toDouble / populationSize)

  /** Data-test a SET of relationships as ONE Spark plan (SURVEY §7.4.4).
    *
    * The reference issues one sampling SQL query per relationship endpoint
    * (data_relationship_tester.py:115-121) — at thousands of candidate edges
    * over 100 TB that re-reads the same fact table once per edge. Here:
    *
    *   1. every distinct table is scanned ONCE, projected to just its tested
    *      columns, stacked into (table, column, value) rows, and aggregated
    *      into per-column frequency tables in a single shuffle keyed
    *      (t, c, v) — values cast to string for the heterogeneous stack (the
    *      cast is injective per column, so per-edge counts are unchanged);
    *   2. a broadcast edges table routes each frequency row to the edges
    *      using it as source (a-side) / target (b-side);
    *   3. ONE shuffle by edge id brings each edge's (value, a-count,
    *      b-count) rows together; a window gives the per-edge totals and ONE
    *      groupBy(edge_id) yields, per edge, `common` = |distinct src ∩
    *      distinct tgt| (the referential-integrity intersection, J9) AND the
    *      exact-integer distribution delta sum (J10) in the same pass.
    *
    * Shuffle count is CONSTANT in the number of edges (two: the frequency
    * tables and the edge shuffle), versus ~4 per edge for naive per-pair
    * testing — the difference between one pass and thousands over every
    * endpoint on a cluster.
    *
    * A table with an entry in `sampleFractions` below 1 is sampled
    * uniformly at that fraction — the scale path replacing the reference's
    * LIMIT-based sampling (partition-skew-free).
    *
    * Numerics: counts and delta sums are exact integers; the few final
    * double ops are written in the same order as the DuckDB oracle, so
    * results are bit-identical on any cluster.
    */
  def testRelationships(
      spark: SparkSession, dir: String,
      edges: Seq[(String, String, String, String)],
      sampleFractions: Map[String, Double] = Map.empty): DataFrame = {
    require(edges.nonEmpty, "testRelationships needs at least one edge")
    import spark.implicits._
    val edgeDf = edges.zipWithIndex.map { case ((st, sc, tt, tc), i) =>
      (i, st, sc, tt, tc)
    }.toDF("edge_id", "source_table", "source_column", "target_table", "target_column")

    val needed: Map[String, Seq[String]] = edges
      .flatMap { case (st, sc, tt, tc) => Seq(st -> sc, tt -> tc) }
      .distinct.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap

    // 1. one scan per table, stacked into (t, c, v) rows and counted by one
    // aggregation over all tables → (t, c, v, cnt) for every tested column.
    // Values are canonicalized BEFORE the string cast: all integral widths
    // go through bigint so an int 5 and a bigint 5 render identically
    // ("5"), preserving cross-width joins. Fractional types are rejected
    // loudly — the upstream type-group validation never routes float keys
    // here, and "5.0" vs "5.00" string drift would silently zero the
    // overlap for anyone bypassing it.
    val stacked = needed.map { case (t, cols0) =>
      val df0 = ParquetCatalog.read(spark, s"$dir/$t.parquet")
      val frac = sampleFractions.getOrElse(t, 1.0)
      val df = if (frac < 1.0) df0.sample(frac, seed = 42) else df0
      import org.apache.spark.sql.types._
      val pairs = cols0.map { c =>
        // a dotted name is a nested field, as `col(c)` reads it; walking the
        // schema costs no Catalyst analysis per column
        val dataType = c.split('.').foldLeft(df0.schema: DataType) {
          case (s: StructType, f) => s(f).dataType
          case (_, f) => throw new IllegalArgumentException(s"$t.$c: no struct holds $f")
        }
        val canonical = dataType match {
          case ByteType | ShortType | IntegerType | LongType => col(c).cast("bigint")
          case StringType | BinaryType | BooleanType | DateType => col(c)
          case dt: TimestampType => col(c)
          case other => throw new IllegalArgumentException(
            s"unsupported data-test endpoint type for $t.$c: $other — " +
              "edges must use integral/string/binary keys (the type-group " +
              "validation in RelationshipDetector enforces this)")
        }
        struct(lit(c).as("c"), canonical.cast("string").as("v"))
      }
      df.select(explode(array(pairs: _*)).as("p"))
        .select(lit(t).as("t"), col("p.c").as("c"), col("p.v").as("v"))
        .where(col("v").isNotNull)
    }.reduce(_ unionByName _)
      .groupBy("t", "c", "v").agg(count(lit(1)).as("cnt"))
      // two consumers (a-side, b-side) — pin the per-column frequency tables
      // so the table scans + stack aggregation run once (guide §2.4); the
      // pinned frame is frequency-table-sized (distinct values), not
      // data-sized
      .localCheckpoint()

    // 2. route frequency rows to the edges that use them: each (edge, value)
    // with its source-side (a) and target-side (b) count, 0 when absent
    def side(table: String, column: String, cnt: String, other: String) = stacked
      .join(broadcast(edgeDf), col("t") === col(table) && col("c") === col(column))
      .select(col("edge_id"), col("v"), col("cnt").as(cnt), lit(0L).as(other))
    val values = side("source_table", "source_column", "cnt_a", "cnt_b")
      .unionByName(side("target_table", "target_column", "cnt_b", "cnt_a"))
      .repartition(col("edge_id"))
      .groupBy("edge_id", "v").agg(sum("cnt_a").as("cnt_a"), sum("cnt_b").as("cnt_b"))

    // 3. per-edge totals by window, then one per-edge aggregate → n_src, the
    // RI intersection and the delta sum, all over that one shuffle by edge
    val edge = Window.partitionBy("edge_id")
    val both = col("cnt_a") > 0 && col("cnt_b") > 0
    val perEdge = values
      .withColumn("tot_a", sum("cnt_a").over(edge))
      .withColumn("tot_b", sum("cnt_b").over(edge))
      .groupBy("edge_id")
      .agg(
        count(when(col("cnt_a") > 0, 1)).as("n_src"),
        max("tot_a").as("tot_a"), max("tot_b").as("tot_b"),
        count(when(both, 1)).as("common"),
        sum(when(both, abs(col("cnt_a") * col("tot_b") - col("cnt_b") * col("tot_a"))))
          .as("delta_sum"))

    // the engine and q16 pass only edges whose endpoint type groups
    // RelationshipDetector.validate has matched
    val tc = lit(1.0)
    val base = edgeDf
      .join(perEdge, Seq("edge_id"), "left")
      .na.fill(0L, Seq("n_src", "common", "delta_sum", "tot_a", "tot_b"))
    val ri = when(col("n_src") === 0, 0.0)
      .otherwise(col("common").cast("double") / col("n_src"))
    val distSim = when(col("common") === 0 || col("n_src") === 0, lit(0.0))
      .otherwise(
        (lit(1.0) - col("delta_sum").cast("double") /
          (col("tot_a").cast("double") * col("tot_b").cast("double")) / col("common")) *
          (col("common").cast("double") / col("n_src")))
    base.select(
      col("source_table"), col("source_column"),
      col("target_table"), col("target_column"),
      ri.as("ri_ratio"),
      tc.as("type_compatibility"),
      distSim.as("dist_similarity"),
      overallConfidence(ri, tc, distSim).as("overall_confidence"),
      (col("n_src") - col("common")).as("orphan_values"),
      col("n_src").as("total_src"))
  }
}
