package graft
import org.apache.spark.sql.SparkSession

/** Dev harness: run ONE SparkEntry query by name, print rows and (optionally)
  * the formatted physical plan. Usage:
  *   runMain graft.RunOne <name> [sfDir] [explain|rows|time]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val mode = if (args.length > 2) args(2) else "rows"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    def noopOnce(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    mode match {
      case "explain" =>
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        println(s"rows=${df.count()}")
      case "plan" => // plan only, no execution
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      case "noop" =>
        // bench-methodology timing: noop sink (full materialization, no
        // count-pruning), min of 3 after one warm pass — matches Bench
        noopOnce()
        val ts = Seq.fill(3)(noopOnce())
        println(f"noop_min=${ts.min}%.3f noop_all=${ts.map(t => f"$t%.3f").mkString(",")}")
      case "time" =>
        df.count() // warm
        val t0 = System.nanoTime()
        val n = df.count()
        println(s"rows=$n time=${(System.nanoTime() - t0) / 1e9}s")
      case "noopfinal" =>
        // adaptive executed plan AFTER a full noop materialization (no
        // count-pruning) — what the bench actually runs
        val ndf = SparkEntry.queries(name)(spark, sfDir)
        ndf.write.format("noop").mode("overwrite").save()
        println(ndf.queryExecution.executedPlan.toString)
      case "final" =>
        // the ADAPTIVE plan after execution — shows ReusedExchange /
        // runtime join strategy changes that static explain can't
        df.count()
        println(df.queryExecution.executedPlan.toString)
      case _ =>
        df.show(50, false)
        println(s"rows=${df.count()}")
    }
    spark.stop()
  }
}
