package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.OutputMode

/** The same stateful streaming operators, under the RocksDB state store
  * provider — the backend a 100 TB deployment runs (state spills to local
  * disk instead of living on the JVM heap, so watermark-bounded state can
  * exceed executor memory). The engine's streaming code is
  * provider-agnostic by construction; this spec PROVES it by re-running
  * the dedup and session-close paths with the provider swapped in.
  */
class RocksDbStateSpec extends SparkSpec {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocksDb[A](body: => A): A = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }

  test("dropDuplicatesWithinWatermark state lives in RocksDB") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val source = MemoryStream[(Long, Long, Long, String, String)]
      val df = source.toDF().toDF("event_id", "ts", "user_id", "event_type", "props")
        .withColumn("value", lit(1.0))
      val q = EventStream.dedupStream(df).writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName("rocksdb_dedup").start()
      try {
        def ns(hour: Long) = (100 + hour) * 3600L * 1000000000L
        source.addData(
          (1L, ns(0), 7L, "click", "{}"),
          (2L, ns(0), 7L, "click", "{}"),
          (3L, ns(0), 8L, "view", "{}"))
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.asScala.exists(
          _.customMetrics.containsKey("rocksdbGetCount")),
          "state operator did not report RocksDB metrics — provider not in effect")
        val kept = spark.table("rocksdb_dedup").collect()
        assert(kept.length === 2)
        assert(kept.map(_.getAs[Long]("user_id")).toSet === Set(7L, 8L))
      } finally q.stop()
    }
  }

  test("mapGroupsWithState sessions close identically under RocksDB") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val source = MemoryStream[(Long, Long)]
      val df = source.toDF().toDF("user_id", "ts")
      val q = EventStream.closedSessionsStream(spark, df, gapMinutes = 30).writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName("rocksdb_sessions").start()
      try {
        def ns(min: Long) = (min + 1) * 60L * 1000000000L
        source.addData((1L, ns(0)), (1L, ns(10)), (1L, ns(130)))
        q.processAllAvailable()
        val closed = spark.table("rocksdb_sessions").collect()
        assert(closed.length === 1)
        assert(closed.head.getAs[Long]("nEvents") === 2L)
      } finally q.stop()
    }
  }

  test("watermarked windowed aggregation state lives in RocksDB") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val source = MemoryStream[(Long, Long, Long, String, String)]
      val df = source.toDF().toDF("event_id", "ts", "user_id", "event_type", "props")
        .withColumn("value", lit(2.5))
      // not runToMemory: its AvailableNow trigger drains-and-terminates
      // BEFORE a MemoryStream fixture gets any data (file sources have
      // their data at start; this source doesn't)
      val q = EventStream.hourlyAggStream(df).writeStream
        .outputMode(OutputMode.Complete)
        .format("memory").queryName("rocksdb_hourly").start()
      try {
        def ns(hour: Long, min: Long) =
          ((100 + hour) * 3600L + min * 60) * 1000000000L
        source.addData(
          (1L, ns(0, 5), 7L, "click", "{}"),
          (2L, ns(0, 25), 8L, "click", "{}"),
          (3L, ns(1, 5), 7L, "view", "{}"))
        q.processAllAvailable()
        // lastProgress may be a no-data tick with empty state metrics:
        // scan the whole progress history for the RocksDB counters
        assert(q.recentProgress.flatMap(_.stateOperators).exists(
          _.customMetrics.containsKey("rocksdbGetCount")),
          "aggregation state operator did not report RocksDB metrics")
        val rows = spark.table("rocksdb_hourly").collect()
          .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
            r.getAs[Double]("sum_value"))).toSet
        assert(rows === Set(("click", 2L, 5.0), ("view", 1L, 2.5)))
      } finally q.stop()
    }
  }

  test("scoped opt-in + restart: session state survives a checkpoint restart under RocksDB") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_rocks_ckpt").toString
    val (out, checkpoint) = (s"$base/out", s"$base/ckpt")
    val source = MemoryStream[(Long, Long)]
    val df = source.toDF().toDF("user_id", "ts")
    def build() = EventStream.closedSessionsStream(spark, df, gapMinutes = 30)
    val outSchema = build().schema
    // memory sinks refuse checkpoint recovery — the restart goes through
    // the production path: a parquet file sink over the same checkpoint
    def closedRows() = spark.read.schema(outSchema).parquet(out).collect()
    // StateBackend.using scopes the provider to the start() calls inside
    // the block — nothing leaks to queries started outside it
    def startQuery() = StateBackend.using(spark, StateBackend.RocksDb) {
      assert(spark.conf.get(ProviderKey) === RocksDb)
      build().writeStream
        .option("checkpointLocation", checkpoint)
        .outputMode(OutputMode.Append)
        .format("parquet").option("path", out).start()
    }

    def ns(min: Long) = (min + 1) * 60L * 1000000000L
    // first incarnation: two events 10 min apart — session stays OPEN in state
    val q1 = startQuery()
    assert(spark.conf.getOption(ProviderKey).forall(_ != RocksDb),
      "the scoped opt-in must not leak to the session")
    try {
      source.addData((1L, ns(0)), (1L, ns(10)))
      q1.processAllAvailable()
      assert(q1.lastProgress.stateOperators.asScala.exists(
        _.customMetrics.containsKey("rocksdbGetCount")),
        "first incarnation did not run on RocksDB")
      assert(closedRows().isEmpty, "session must still be open")
    } finally q1.stop()

    // second incarnation from the SAME checkpoint: a 120-min-later event
    // must close the session built before the restart — nEvents = 2 proves
    // the pre-restart state was recovered from the RocksDB checkpoint
    val q2 = startQuery()
    try {
      source.addData((1L, ns(130)))
      q2.processAllAvailable()
      assert(q2.lastProgress.stateOperators.asScala.exists(
        _.customMetrics.containsKey("rocksdbGetCount")),
        "restarted incarnation did not run on RocksDB")
      val closed = closedRows()
      assert(closed.length === 1)
      assert(closed.head.getAs[Long]("nEvents") === 2L,
        "restart lost the pre-checkpoint session state")
      assert(closed.head.getAs[Long]("sessionStartUs") === ns(0) / 1000)
    } finally q2.stop()
  }

  private implicit class JMapOps(
      arr: Array[org.apache.spark.sql.streaming.StateOperatorProgress]) {
    def asScala: Seq[org.apache.spark.sql.streaming.StateOperatorProgress] = arr.toSeq
  }
}
