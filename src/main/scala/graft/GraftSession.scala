package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-appropriate defaults.
  *
  * Local testing runs `local[32]`; the same configuration carries to a real
  * cluster where `master` comes from spark-submit. AQE stays on so join
  * strategies and partition counts re-plan at runtime (skew joins, broadcast
  * demotion/promotion) — essential at 100 TB where static estimates are wrong.
  *
  * A long-lived session repeats the same analyses, so its generated classes
  * are reused only if they stay in Spark's codegen cache between requests.
  * Spark's default of 100 entries is below one pass's working set (about 165
  * classes for a corpus curation pass, about 300 for a minute of ERD serving
  * with onboardings), so its LRU evicts every class before reuse and each
  * pass recompiles everything. [[CodegenCacheEntries]] holds both working
  * sets with headroom and bounds the heap the cache can retain. The setting
  * is a static conf that `CodeGenerator` reads once per JVM, when it first
  * generates code: it takes effect here because the builder sets it before
  * any query runs, but a plain `SparkSession` that generates code first in
  * the same JVM fixes the cache at Spark's 100-entry default. Callers may
  * still override it with `.config(...)` on the returned builder.
  */
object GraftSession {
  val CodegenCacheEntries = 1024

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      // Catalyst extensions: approx-distinct rewrite rule (off unless
      // spark.graft.approxDistinct.enabled) + graft's SQL functions
      // (GraftExtensions.functions); the Scala wrappers need neither.
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // testdata events.ts is parquet timestamp[ns], which Spark refuses by
      // default; read as long (nanos) and convert explicitly where needed.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Local session for tests/CLI. */
  def local(cores: Int = 32): SparkSession =
    builder().master(s"local[$cores]").getOrCreate()
}
