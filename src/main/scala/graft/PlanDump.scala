package graft
import org.apache.spark.sql.SparkSession

/** Dev harness: dump the formatted physical plan of MANY SparkEntry queries
  * to files in one JVM (RunOne's `plan` mode costs a session per query).
  * Usage:
  *   runMain graft.PlanDump <name[,name...] | all> [sfDir] [outDir] [suffix]
  * writes <outDir>/<name>_<suffix>.txt for each query; `all` names every
  * query in [[SparkEntry.queries]]. Plans only — nothing executes.
  * `tools/plandiff.py` compares two such directories.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 2) args(2) else "plans/r15"
    val suffix = if (args.length > 3) args(3) else "before"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
