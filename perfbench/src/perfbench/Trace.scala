package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark-side counters of one span, filled by [[SpanListener]]. */
final class Counters {
  val cpuNs = new LongAdder
  val schedWaitMs = new LongAdder
  val shuffleBytes = new LongAdder
  val spillBytes = new LongAdder
  val recordsRead = new LongAdder
  val planMs = new LongAdder
}

/** One timed call into a layer. `parent` is 0 for a pass's root span. */
case class Span(id: Int, name: String, parent: Int, pass: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Attributes Spark task metrics and query planning time to spans. Every
  * span runs under its own job group; jobs carry the group in their
  * properties, SQL executions in their start event.
  */
final class SpanListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execGroup = new ConcurrentHashMap[Long, String]()

  def counters(group: String): Counters = byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null && e.taskMetrics != null) {
      val c = counters(g)
      val m = e.taskMetrics
      c.cpuNs.add(m.executorCpuTime)
      c.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.recordsRead.add(m.inputMetrics.recordsRead)
      val submitted = stageSubmitMs.get(e.stageId)
      if (submitted != null) c.schedWaitMs.add(math.max(0L, e.taskInfo.launchTime - submitted))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(execGroup.put(s.executionId, _))
    case s: SparkListenerSQLExecutionEnd =>
      val g = execGroup.remove(s.executionId)
      if (g != null) counters(g).planMs.add(org.apache.spark.sql.perfbenchshim.PlanningTime.millis(s))
    case _ =>
  }
}

/** Span recorder. Spans nest per thread; outside a traced pass a span is a
  * plain call, so traced and untraced passes can interleave in one run.
  */
final class Tracer(spark: SparkSession) {
  val listener = new SpanListener
  private val nextId = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val pass = new ThreadLocal[java.lang.Long] { override def initialValue() = -1L }
  private val recorded = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  spark.sparkContext.addSparkListener(listener)

  /** Marks the calling thread's next spans as part of pass `id`; -1 = untraced. */
  def beginPass(id: Long): Unit = pass.set(id)

  def traced: Boolean = pass.get >= 0

  def span[T](name: String)(body: => T): T = {
    val p = pass.get
    if (p < 0) return body
    val sc = spark.sparkContext
    val id = nextId.incrementAndGet()
    val parents = stack.get
    sc.setJobGroup(s"span-$id", s"span-$id", interruptOnCancel = false)
    stack.set(id :: parents)
    val t0 = System.nanoTime()
    try body
    finally {
      recorded.add(Span(id, name, parents.headOption.getOrElse(0), p, t0, System.nanoTime()))
      stack.set(parents)
      parents.headOption match {
        case Some(up) => sc.setJobGroup(s"span-$up", s"span-$up", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def flush(): Unit = org.apache.spark.perfbenchshim.ListenerBus.flush(spark.sparkContext)

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.id)

  def countersOf(s: Span): Option[Counters] = Option(listener.byGroup.get(s"span-${s.id}"))

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}
