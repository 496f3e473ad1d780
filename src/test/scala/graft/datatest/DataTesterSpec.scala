package graft.datatest

import graft.SparkSpec
import graft.core.DetectionConfig
import org.apache.spark.sql.functions.{col, lit}

class DataTesterSpec extends SparkSpec {

  test("referential integrity: full overlap is 1.0, orphans counted") {
    import spark.implicits._
    val src = Seq(1, 2, 2, 3).toDF("fk")
    val tgt = Seq(1, 2, 3, 4).toDF("pk")
    val r = DataTester.referentialIntegrity(src, "fk", tgt, "pk").collect().head
    assert(r.getAs[Double]("ri_ratio") === 1.0)
    assert(r.getAs[Long]("orphan_values") === 0L)

    val src2 = Seq(1, 5, 6).toDF("fk")
    val r2 = DataTester.referentialIntegrity(src2, "fk", tgt, "pk").collect().head
    assert(math.abs(r2.getAs[Double]("ri_ratio") - 1.0 / 3) < 1e-12)
    assert(r2.getAs[Long]("orphan_values") === 2L)
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
    import spark.implicits._
    val a = Seq(1, 1, 2, 3).toDF("v")
    val r = DataTester.distributionSimilarity(a, "v", a, "v").collect().head
    assert(r.getAs[Double]("dist_similarity") === 1.0)
  }

  test("distribution similarity: disjoint distributions score 0.0") {
    import spark.implicits._
    val a = Seq(1, 2).toDF("v")
    val b = Seq(3, 4).toDF("v")
    val r = DataTester.distributionSimilarity(a, "v", b, "v").collect().head
    assert(r.getAs[Double]("dist_similarity") === 0.0)
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
    import spark.implicits._
    // 2 of 10 target values covered: coverage drags similarity down.
    val src = Seq(1, 1, 2, 2).toDF("v")
    val tgt = (1 to 10).toDF("v")
    val r = DataTester.distributionSimilarity(src, "v", tgt, "v").collect().head
    assert(r.getAs[Double]("dist_similarity") < 0.7)
  }
}
