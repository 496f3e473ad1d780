package graft.ops

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Tests for the 100 TB paths: bucketed co-located joins, capped candidate
  * joins, and the SQL surface.
  */
class ScalePathSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    val dir = sf0001
    s2.read.parquet(s"$dir/orders.parquet")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders_b").mode("overwrite").saveAsTable("orders_b")
    s2.read.parquet(s"$dir/lineitem.parquet")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem_b").mode("overwrite").saveAsTable("lineitem_b")
    val joined = s2.table("lineitem_b")
      .join(s2.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    // co-located: the join must not introduce a shuffle on either side
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n${plan.take(2000)}")
    assert(joined.count() === Tables.lineitem(s2, dir).count())
  }

  test("capped candidate join preserves the candidate set exactly") {
    val emb = Tables.embeddings(spark, sf0001).cache()
    val uncapped = graft.ext.Similarity
      .cosineCandidates(emb, bucketCap = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cap far below any bucket size → every bucket splits into many blocks
    val capped = graft.ext.Similarity
      .cosineCandidates(emb, bucketCap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === uncapped,
      s"blocked join changed the candidate set: " +
        s"missing=${(uncapped -- capped).take(5)} extra=${(capped -- uncapped).take(5)}")
  }

  test("candidate-join key cardinality grows with input rows under the cap") {
    import spark.implicits._
    // one identical vector everywhere → every table collapses to ONE bucket:
    // worst-case skew, where the uncapped join would have exactly
    // numTables (=20) keys no matter the corpus size
    def skewed(n: Int) = (0 until n)
      .map(i => (i.toLong, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    def keyCount(n: Int): Long = {
      val sigs = (0 until 20).map { t =>
        org.apache.spark.sql.functions.struct(
          lit(t).as("tbl"),
          graft.ext.Similarity.hyperplaneSignature(
            col("embedding"), 8, 2, seed = t * 1000).as("bucket"))
      }
      val bucketed = skewed(n)
        .select(col("vec_id").as("id"), explode(array(sigs: _*)).as("s"))
        .select(col("s.tbl").as("tbl"), col("s.bucket").as("bucket"), col("id"))
      graft.ext.Similarity.blockAssignments(bucketed, bucketCap = 8)
        // ordered block pairs (bi ≤ bj) per bucket = the join's key space
        .groupBy("tbl", "bucket").agg(max("nblocks").as("nb"))
        .select(sum(expr("nb * (nb + 1) / 2"))).as[Double].head.toLong
    }
    val small = keyCount(32)  // 4 blocks/bucket  → 10 keys × 20 tables
    val large = keyCount(128) // 16 blocks/bucket → 136 keys × 20 tables
    assert(small > 20, s"cap not splitting the hot bucket: $small keys")
    assert(large > 4 * small,
      s"key cardinality must grow superlinearly with rows: $small → $large")
    // and the blocked join still yields ALL intra-bucket pairs exactly once
    val cand = graft.ext.Similarity
      .cosineCandidates(skewed(32), dim = 8, bucketCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.length === 32 * 31 / 2, s"expected all pairs, got ${cand.length}")
    assert(cand.toSet.size === cand.length)
    assert(cand.forall { case (a, b) => a < b })
  }

  test("SQL surface runs ANSI SQL over registered lake views") {
    val engine = new graft.GraftEngine(spark, sf0001)
    val out = engine.sql(
      """SELECT c_mktsegment, COUNT(*) AS n
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)
    assert(out.count() > 0)
    assert(out.columns.toSeq === Seq("c_mktsegment", "n"))
  }
}
