package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; suites must not stop() it).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder().master("local[4]").getOrCreate()
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` and returns the ("job" | "sql", call site or description)
    * of every Spark job and SQL execution it started, in order. Listener
    * events arrive in order, so once a marker job that runs after `body` is
    * seen, every event of `body` has been seen too.
    */
  protected def startedBy(body: => Unit): Seq[(String, String)] = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.map(_.getProperty(k, "")).getOrElse("")
        events.add(if (prop("spark.job.description") == "marker") ("marker", "")
          else ("job", prop("callSite.short")))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => events.add(("sql", s.description))
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription("marker")
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def marked = events.asScala.exists(_._1 == "marker")
      while (!marked && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked)
      events.asScala.toSeq.takeWhile(e => e._1 != "marker" && e._2 != "marker")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
