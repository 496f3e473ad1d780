package graft.datatest

import java.nio.file.Files

import graft.SparkSpec
import graft.core.{CustomRule, DetectionConfig}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit, struct}

class DataTesterSpec extends SparkSpec {

  /** A lake of one-column (`v`) tables in a fresh directory. */
  private def lake(tables: (String, Seq[Int])*): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dt").toString
    tables.foreach { case (t, vs) => vs.toDF("v").write.parquet(s"$dir/$t.parquet") }
    dir
  }

  /** `testRelationships` over `v` → `v` edges, one row per source table. */
  private def tested(dir: String, edges: (String, String)*): Map[String, Row] =
    DataTester.testRelationships(spark, dir, edges.map { case (s, t) => (s, "v", t, "v") })
      .collect().map(r => r.getAs[String]("source_table") -> r).toMap

  test("referential integrity: full overlap is 1.0, orphans counted") {
    val dir = lake("src" -> Seq(1, 2, 2, 3), "src2" -> Seq(1, 5, 6), "tgt" -> Seq(1, 2, 3, 4))
    val out = tested(dir, "src" -> "tgt", "src2" -> "tgt")
    assert(out("src").getAs[Double]("ri_ratio") === 1.0)
    assert(out("src").getAs[Long]("orphan_values") === 0L)
    assert(out("src2").getAs[Double]("ri_ratio") === 1.0 / 3)
    assert(out("src2").getAs[Long]("orphan_values") === 2L)
    assert(out("src2").getAs[Long]("total_src") === 3L)
  }

  test("cross-width integral edges join: int fk against bigint pk scores RI 1.0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dtwidth").toString
    Seq(1, 2, 3).toDF("fk").write.mode("overwrite").parquet(s"$dir/src_t.parquet")
    Seq(1L, 2L, 3L, 4L).toDF("pk").write.mode("overwrite").parquet(s"$dir/tgt_t.parquet")
    val out = DataTester.testRelationships(
      spark, dir, Seq(("src_t", "fk", "tgt_t", "pk"))).collect().head
    assert(out.getAs[Double]("ri_ratio") === 1.0, "int/bigint values must canonicalize equal")
    // fractional endpoints are rejected loudly, not silently mismatched
    Seq(1.5).toDF("fk").write.mode("overwrite").parquet(s"$dir/bad_t.parquet")
    val e = intercept[IllegalArgumentException] {
      DataTester.testRelationships(spark, dir, Seq(("bad_t", "fk", "tgt_t", "pk"))).collect()
    }
    assert(e.getMessage.contains("unsupported data-test endpoint type"))
  }

  test("distribution similarity: identical distributions score 1.0") {
    // a column against itself and against an equal copy
    val dir = lake("a" -> Seq(1, 1, 2, 3), "b" -> Seq(3, 1, 2, 1))
    val out = tested(dir, "a" -> "a", "b" -> "a")
    assert(out("a").getAs[Double]("dist_similarity") === 1.0)
    assert(out("b").getAs[Double]("dist_similarity") === 1.0)
  }

  test("distribution similarity: disjoint distributions score 0.0") {
    val out = tested(lake("a" -> Seq(1, 2), "b" -> Seq(3, 4)), "a" -> "b")
    assert(out("a").getAs[Double]("dist_similarity") === 0.0)
    assert(out("a").getAs[Double]("ri_ratio") === 0.0)
  }

  test("overall confidence weights 0.5/0.3/0.2 and clamps to [0,1]") {
    import spark.implicits._
    val df = Seq((1.0, 1.0, 1.0)).toDF("ri", "tc", "ds")
      .select(DataTester.overallConfidence(col("ri"), col("tc"), col("ds")).as("o"))
    assert(df.head.getDouble(0) === 1.0)
    val half = Seq((0.5, 1.0, 0.0)).toDF("ri", "tc", "ds")
      .select(DataTester.overallConfidence(col("ri"), col("tc"), col("ds")).as("o"))
    assert(math.abs(half.head.getDouble(0) - 0.55) < 1e-12)
  }

  test("confidence adjustment: +0.2 capped at 1.0 on pass, -0.3 floored at 0.1 on fail") {
    import spark.implicits._
    val rels = Seq((0.95, 0.9), (0.6, 0.3)).toDF("confidence", "overall_confidence")
    val out = DataTester.adjustConfidence(rels, DetectionConfig()).collect()
    assert(out(0).getAs[Boolean]("data_validated"))
    assert(out(0).getAs[Double]("adjusted_confidence") === 1.0)
    assert(!out(1).getAs[Boolean]("data_validated"))
    assert(math.abs(out(1).getAs[Double]("adjusted_confidence") - 0.3) < 1e-12)
  }

  test("orphan%/distribution gates: confidence-only pass fails when the knobs are live") {
    import spark.implicits._
    // 30% orphans, decent distribution: passes the reference's default
    // confidence-only gate, fails once max_orphan_percentage = 0.2 is set.
    val rels = Seq((0.8, 0.9, 30L, 100L, 0.6))
      .toDF("confidence", "overall_confidence", "orphan_values", "total_src", "dist_similarity")
    val default = DataTester.adjustConfidence(rels, DetectionConfig()).collect().head
    assert(default.getAs[Boolean]("data_validated"))
    val orphanGated = DataTester.adjustConfidence(
      rels, DetectionConfig(maxOrphanPercentage = 0.2)).collect().head
    assert(!orphanGated.getAs[Boolean]("data_validated"))
    assert(math.abs(orphanGated.getAs[Double]("adjusted_confidence") - 0.5) < 1e-12) // 0.8-0.3
    val distGated = DataTester.adjustConfidence(
      rels, DetectionConfig(distributionSimilarityThreshold = 0.7)).collect().head
    assert(!distGated.getAs[Boolean]("data_validated"))
    // generous thresholds leave the pass intact
    val loose = DataTester.adjustConfidence(
      rels, DetectionConfig(maxOrphanPercentage = 0.5, distributionSimilarityThreshold = 0.5))
      .collect().head
    assert(loose.getAs[Boolean]("data_validated"))
    // empty source never divides by zero
    val empty = Seq((0.8, 0.9, 0L, 0L, 1.0))
      .toDF("confidence", "overall_confidence", "orphan_values", "total_src", "dist_similarity")
    assert(DataTester.adjustConfidence(empty, DetectionConfig(maxOrphanPercentage = 0.2))
      .collect().head.getAs[Boolean]("data_validated"))
  }

  test("Cochran sample size: 95%/5% on large population ≈ 385, small population corrected") {
    assert(DataTester.cochranSampleSize(1000000) === 385L)
    assert(DataTester.cochranSampleSize(100) <= 100L)
    assert(DataTester.cochranSampleSize(100) >= 79L) // FPC pulls it near 80
  }

  test("adaptive Cochran wiring: fraction = n_cochran/rows; sampled metrics near full-pass") {
    assert(DataTester.cochranFraction(10) === 1.0)
    assert(DataTester.cochranFraction(1000000) ===
      DataTester.cochranSampleSize(1000000).toDouble / 1000000)
    val eng = new graft.GraftEngine(spark, sf0001)
    val fr = eng.adaptiveSampleFractions()
    val rows = graft.catalog.ParquetCatalog.tables(spark, sf0001)
      .map(t => t.tableName -> t.numRows).toMap
    fr.foreach { case (t, f) =>
      assert(math.abs(f - math.min(1.0, DataTester.cochranSampleSize(rows(t)).toDouble / rows(t))) < 1e-12,
        s"$t fraction $f drifted from Cochran")
    }
    val edge = Seq(("customer", "c_nationkey", "nation", "n_nationkey"))
    val full = DataTester.testRelationships(spark, sf0001, edge).collect().head
    val sampled = DataTester.testRelationships(spark, sf0001, edge, sampleFractions = fr)
      .collect().head
    // both sides sample at their Cochran fractions (the reference samples
    // both endpoints too), so metrics wobble within the margin of error
    assert(sampled.getAs[Double]("ri_ratio") > 0.8)
    assert(math.abs(sampled.getAs[Double]("overall_confidence") -
      full.getAs[Double]("overall_confidence")) < 0.2)
  }

  test("negative fixture shape: low-coverage FK scores below threshold on distribution") {
    // 2 of 10 target values covered: coverage drags similarity down.
    val out = tested(lake("src" -> Seq(1, 1, 2, 2), "tgt" -> (1 to 10)), "src" -> "tgt")
    assert(out("src").getAs[Double]("dist_similarity") < 0.7)
  }

  test("a nested key (struct field) endpoint is data-tested in the onboarding") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dtnested").toString
    Seq(1L, 2L, 3L, 4L).toDF("c_custkey").write.parquet(s"$dir/customer.parquet")
    Seq((10L, 1L), (11L, 2L), (12L, 2L), (13L, 9L)).toDF("o_orderkey", "k")
      .select(col("o_orderkey"), struct(col("k").as("c_custkey"), lit("n").as("note")).as("ref"))
      .write.parquet(s"$dir/orders.parquet")
    val engine = new graft.GraftEngine(spark, dir,
      customRules = Seq(CustomRule("orders", "ref.c_custkey", "customer", "c_custkey")))
    val edge = engine.enhancedRelationships().collect()
      .filter(_.getAs[String]("source_column") == "ref.c_custkey")
    assert(edge.length === 1)
    assert(edge.head.getAs[Double]("ri_ratio") === 2.0 / 3)
    assert(edge.head.getAs[Long]("orphan_values") === 1L)
    assert(edge.head.getAs[Long]("total_src") === 3L)
  }
}
