package graft.streaming

import org.apache.spark.sql.SparkSession

/** Streaming state-store backend selection. The default HDFS-backed store
  * keeps every key's state on the JVM heap — fine for tests and bounded
  * keyspaces, a memory wall for the state-heavy operators (per-user
  * sessions, watermark-window dedup) at production fan-in. RocksDB (bundled
  * with Spark) spills state to local disk with an in-memory cache, so state
  * size is bounded by disk, not executor heap.
  *
  * The provider is a SESSION conf that Spark reads when a query STARTS and
  * pins into its checkpoint. That makes build-time conf mutation the wrong
  * surface (a builder parameter would silently leak the choice to every
  * OTHER query later started on the session); [[using]] instead scopes the
  * choice to a block that must contain the `.start()` calls it is meant to
  * cover, restoring the previous provider on exit.
  */
object StateBackend {
  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Fully-qualified provider class of Spark's bundled RocksDB store. */
  val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the given state-store provider in effect; queries
    * STARTED inside the block pin it into their checkpoints, and the
    * previous session setting is restored afterwards (already-running
    * queries are unaffected either way).
    */
  def using[A](spark: SparkSession, provider: String)(body: => A): A = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, provider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }
}
