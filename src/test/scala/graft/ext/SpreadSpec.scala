package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The input-parallelism guard is a structural knob on hot operator paths
  * (winnow gram passes, sketch md5 passes), so its firing rules are pinned:
  * it spreads only scan-rooted local-tiny frames, never changes row sets,
  * and the capped variant stops below the session parallelism.
  */
class SpreadSpec extends SparkSpec {

  test("byKeyCapped: spreads a small-split scan to min(cap, parallelism), rows unchanged") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("source"))
    val spread = Spread.byKeyCapped(docs, col("doc_id"))
    val parts = spread.rdd.getNumPartitions
    val cores = spark.sparkContext.defaultParallelism
    assert(parts === math.min(8, cores),
      s"capped spread must fan out to min(cap, cores), got $parts")
    assert(spread.collect().map(_.toSeq).toSet ===
      docs.collect().map(_.toSeq).toSet,
      "a spread is a repartition — row set must be identical")
    // the wider pin saturates every core instead
    val pinned = Spread.byKeyPinned(docs, col("doc_id"))
    assert(pinned.rdd.getNumPartitions === cores)
  }

  test("byKeyCapped: never touches a frame with no file-scan leaves") {
    val local = spark.range(100).select(col("id"))
    val spread = Spread.byKeyCapped(local, col("id"))
    assert(spread.queryExecution.executedPlan.toString ===
      local.queryExecution.executedPlan.toString,
      "literal/local frames must pass through untouched")
  }
}
