package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class EventStreamSpec extends SparkSpec {

  test("streaming hourly aggregation equals the batch result on the same files") {
    val stream = EventStream.readEvents(spark, sf0001)
    val q = EventStream.runToMemory(EventStream.hourlyAggStream(stream), "hourly_test")
    try {
      val streamed = spark.table("hourly_test")
      val batch = Sessions.hourlyAgg(Tables.events(spark, sf0001))
      // same (hour, type) keys and counts
      val s = streamed.select("hour", "event_type", "n_events", "sum_value")
        .collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSet
      val b = batch.select("hour", "event_type", "n_events", "sum_value")
        .collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSet
      assert(s === b)
      assert(s.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch twin on the same files") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // two INDEPENDENT stream reads of the same landing dir — a genuine
    // stream-stream join (not a self-reference), watermarked on both sides
    val joined = EventStream.intervalJoin(
      EventStream.readEvents(spark, sf0001),
      EventStream.readEvents(spark, sf0001))
    val q = joined.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("interval_test")
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.processAllAvailable()
      val ev = Tables.events(spark, sf0001)
      val batch = EventStream.intervalJoin(ev, ev)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("purchase_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val s = key(spark.table("interval_test"))
      assert(s.nonEmpty)
      assert(s === key(batch))
    } finally q.stop()
  }

  test("outer interval join emits null-padded purchases once the click watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ns(min: Long) = (min + 1) * 60L * 1000000000L
    val clickSrc = MemoryStream[(Long, Long, Long, String)]
    val purchSrc = MemoryStream[(Long, Long, Long, String)]
    val cols = Seq("event_id", "ts", "user_id", "event_type")
    val joined = EventStream.intervalJoinOuter(
      clickSrc.toDF().toDF(cols: _*), purchSrc.toDF().toDF(cols: _*),
      windowMinutes = 30, watermarkDelay = "10 minutes")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("outer_interval_test").start()
    try {
      // user 1 purchase with a click 5 min before; user 2 purchase organic
      purchSrc.addData((1L, ns(100), 1L, "purchase"), (2L, ns(100), 2L, "purchase"))
      clickSrc.addData((9L, ns(95), 1L, "click"))
      q.processAllAvailable()
      // inner result streams immediately
      val first = spark.table("outer_interval_test").collect()
      assert(first.exists(r => r.getLong(0) == 1L && r.getLong(2) == 9L))
      assert(!first.exists(_.getLong(0) == 2L)) // outer row held back

      // advance BOTH watermarks past purchase_time (the global watermark is
      // the min across inputs): null-padded row lands
      clickSrc.addData((10L, ns(200), 3L, "click"))
      purchSrc.addData((3L, ns(200), 3L, "purchase"))
      q.processAllAvailable()
      clickSrc.addData((11L, ns(201), 3L, "click"))
      purchSrc.addData((4L, ns(201), 3L, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("outer_interval_test").collect()
      val organic = rows.filter(_.getLong(0) == 2L)
      assert(organic.length === 1, rows.mkString(";"))
      assert(organic.head.isNullAt(2)) // click_id null
      assert(organic.head.getLong(1) === 2L)
    } finally q.stop()
  }

  test("dedupBatch is the stream's twin: same digest set, deterministic keeper") {
    val batch = EventStream.dedupBatch(Tables.events(spark, sf0001))
    val base = java.nio.file.Files.createTempDirectory("graft_dedup_twin").toString
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")
    val q = EventStream.writeToParquet(
      EventStream.dedupStream(EventStream.readEvents(spark, sf0001)), out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val streamDigests = spark.read.parquet(out)
      .select("content_digest").collect().map(_.getString(0)).toSet
    val batchDigests = batch.select("content_digest").collect().map(_.getString(0)).toSet
    assert(streamDigests === batchDigests) // same survivors per digest key
    // batch keeper is the min event id — a pure function of the data
    import org.apache.spark.sql.functions.col
    val copies = batch.agg(org.apache.spark.sql.functions.sum(col("n_copies")))
      .collect().head.getLong(0)
    assert(copies === Tables.events(spark, sf0001).count()) // partition of all events
  }

  test("parquet sink + checkpoint: restart over a drained checkpoint adds no duplicates") {
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")
    def run(): Unit = {
      val q = EventStream.writeToParquet(
        EventStream.dedupStream(EventStream.readEvents(spark, sf0001)), out, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val n1 = spark.read.parquet(out).count()
    assert(n1 > 0)
    // restart against the SAME checkpoint with no new input: exactly-once
    // resume must emit nothing new
    run()
    assert(spark.read.parquet(out).count() === n1)
  }

  test("watermark drops events later than the 2h bound in append mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long, String, Double)]
    val df = source.toDF().toDF("event_id", "ts", "event_type", "value")
      .withColumn("user_id", org.apache.spark.sql.functions.lit(1L))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
    val agg = EventStream.hourlyAggStream(df)
    val q = agg.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("wm_test").start()
    try {
      def ns(hour: Long) = hour * 3600L * 1000000000L
      // batch 1: events at hour 0 and hour 10 -> watermark advances to 8h
      source.addData((1L, ns(0), "click", 1.0), (2L, ns(10), "click", 1.0))
      q.processAllAvailable()
      // batch 2: a late event at hour 1 (< watermark) must be dropped;
      // hour 0's window is already finalized and emitted.
      source.addData((3L, ns(1), "click", 99.0))
      q.processAllAvailable()
      source.addData((4L, ns(20), "click", 1.0)) // push watermark, flush windows
      q.processAllAvailable()
      val rows = spark.table("wm_test")
        .collect().map(r => (r.getAs[java.sql.Timestamp]("hour").getTime / 3600000,
          r.getAs[Long]("n_events"))).toMap
      assert(rows.get(0L) === Some(1L)) // late hour-1 event did not resurrect h0..h1 state
      assert(!rows.contains(1L)) // the late event's own window was never emitted
    } finally q.stop()
  }

  test("streaming dedup drops redelivered digests, keeps distinct ones") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long, Long, String, String)]
    val df = source.toDF().toDF("event_id", "ts", "user_id", "event_type", "props")
      .withColumn("value", lit(1.0))
    val q = EventStream.dedupStream(df).writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("dedup_test").start()
    try {
      // stay clear of epoch 0: the initial watermark is 0, and a row whose
      // event time equals the watermark is dropped as late
      def ns(hour: Long) = (100 + hour) * 3600L * 1000000000L
      // same (user, type, props) delivered three times + one distinct event
      source.addData(
        (1L, ns(0), 7L, "click", "{}"),
        (2L, ns(0), 7L, "click", "{}"),
        (3L, ns(0), 8L, "view", "{}"))
      q.processAllAvailable()
      source.addData((4L, ns(1), 7L, "click", "{}")) // redelivery within watermark
      q.processAllAvailable()
      val kept = spark.table("dedup_test").collect()
      assert(kept.length === 2, s"expected 2 unique digests, got ${kept.length}")
      assert(kept.map(_.getAs[Long]("user_id")).toSet === Set(7L, 8L))
    } finally q.stop()
  }

  test("closed sessions stream emits only gap-terminated sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long)]
    val df = source.toDF().toDF("user_id", "ts")
    val q = EventStream.closedSessionsStream(spark, df, gapMinutes = 30).writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("closed_test").start()
    try {
      // +1 min epoch offset: an event AT the initial watermark (epoch 0)
      // would be dropped as late now that the stream is watermarked
      def ns(min: Long) = (min + 1) * 60L * 1000000000L
      // user 1: burst at 0-10 min, then a 2h gap burst → first session closes
      source.addData((1L, ns(0)), (1L, ns(10)), (1L, ns(130)))
      q.processAllAvailable()
      val closed = spark.table("closed_test").collect()
      assert(closed.length === 1)
      val s = closed.head
      assert(s.getAs[Long]("userId") === 1L)
      assert(s.getAs[Long]("nEvents") === 2L) // the 0..10min burst
      // the 130-min event stays open in state, not emitted yet

      // an out-of-order straggler (125 min, within gap of 130) must NOT
      // move the open session's end backwards
      source.addData((1L, ns(125)))
      q.processAllAvailable()
      assert(spark.table("closed_test").collect().length === 1)

      // advance the watermark far past end+gap (watermark delay is 2h):
      // the idle open session is emitted by event-time timeout
      source.addData((2L, ns(600)))
      q.processAllAvailable()
      source.addData((2L, ns(601))) // one more batch so the timeout fires
      q.processAllAvailable()
      val all = spark.table("closed_test").collect()
      val u1 = all.filter(_.getAs[Long]("userId") == 1L)
      assert(u1.length === 2, s"idle session not timed out: ${all.mkString(";")}")
      // the straggler merged into the 130-min session WITHOUT moving its
      // boundaries backwards: start and end both stay at 130
      val idle = u1.maxBy(_.getAs[Long]("sessionStartUs"))
      assert(idle.getAs[Long]("sessionStartUs") === ns(130) / 1000)
      assert(idle.getAs[Long]("sessionEndUs") === ns(130) / 1000)
      assert(idle.getAs[Long]("nEvents") === 2L)
    } finally q.stop()
  }

  test("stateful sessionization emits per-user session summaries") {
    import spark.implicits._
    val events = Tables.events(spark, sf0001)
    val out = EventStream.sessionizeStream(spark, events)
    // batch execution of the stateful operator over a bounded Dataset
    val rows = out.collect()
    assert(rows.nonEmpty)
    val users = rows.map(_.getAs[Long]("userId")).toSet
    assert(users.size === rows.length) // one state row per user
    assert(rows.forall(r => r.getAs[Long]("nEvents") >= 1))
  }
}
