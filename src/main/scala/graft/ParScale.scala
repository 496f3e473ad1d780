package graft

import org.apache.spark.sql.SparkSession

/** Parallel-scaling readout: wall time of the heaviest queries at
  * `local[32]` vs `local[8]` on the synthesized 8× uniform corpus — the
  * artifact that demonstrates the engine USES task slots when the data is
  * big enough to exercise them.
  *
  * Why this exists: at sf0.1 the whole suite is latency-bound (total
  * executor CPU < wall, average parallelism < 1), so the driver's own
  * c8-vs-c32 comparison of the bench cannot show any ratio above 1 — not
  * because queries are serial, but because there is no work to parallelize.
  * This harness re-asks the question at 8× the data (ScaleBench's uniform
  * growth model — fixed data distribution, pair mass grows linearly), where
  * the answer is a measured speedup, not an assertion.
  *
  * Method: per (query, cpus) the MIN of `passes` noop-sink runs, each cpus
  * setting in its OWN SparkSession (sequential — never two local masters at
  * once), sessions configured exactly like Bench (shuffle.partitions =
  * cpus). Output: PARALLEL.md + bench/parallel_scaling.json with the
  * c32/c8 wall ratio per query.
  *
  * Usage: `runMain graft.ParScale [workDir]` — reuses/creates the ScaleBench
  * corpus under workDir (default /tmp/graft_scale_v2).
  */
object ParScale {

  /** The heavy, parallelizable paths: similarity joins, dedup/CC, sketch,
    * decontamination, media-scale walks. Skips driver-latency-bound report
    * queries whose runtime is many tiny jobs.
    */
  val queries: Seq[String] = Seq(
    "q177_setsim_join", "q187_threshold_sweep", "q190_yield_curve",
    "q93_semantic_dedup", "q51_embedding_dedup_clusters",
    "q16_datatest_metrics", "q67_decontaminate", "q230_cms_error_profile",
    "q239_hll_audit", "q189_rank_auc", "q43_ann_ivf", "q273_audio_neardup_scale")

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // warm JVM/codegen so pass-1 mins are comparable across sessions
    s.range(1000000).selectExpr("sum(id)").collect()
    s
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workDir = args.headOption.getOrElse("/tmp/graft_scale_v2")
    val scaleDir = s"$workDir/uniform_x8"
    val passes = 2
    val cpuSettings = Seq(8, 32)

    // synthesis (reused if present) needs a session of its own
    {
      val s = session(32)
      ScaleBench.synthesize(s, baseDir, scaleDir, 8, uniform = true)
      s.stop()
    }

    val times = collection.mutable.LinkedHashMap[(String, Int), Double]()
    for (cpus <- cpuSettings) {
      val spark = session(cpus)
      for (p <- 1 to passes; q <- queries) {
        spark.sparkContext.setJobDescription(s"parscale:$q c$cpus#$p")
        val t0 = System.nanoTime()
        val t = try {
          SparkEntry.queries(q)(spark, scaleDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[parscale] $q @ c$cpus failed: $e"); -1.0
        }
        val key = (q, cpus)
        times.get(key) match {
          case Some(prev) if prev >= 0 && (t < 0 || prev <= t) => ()
          case _ => times(key) = t
        }
        println(f"[parscale] pass$p c$cpus $q%-30s $t%.2f s")
      }
      spark.stop()
      // a stopped session leaves the default-session slot poisoned
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    def sh(cmd: Seq[String]): String = try {
      val pr = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val out = new String(pr.getInputStream.readAllBytes(), "UTF-8").trim
      pr.waitFor(); if (pr.exitValue() == 0) out else "unknown"
    } catch { case _: Exception => "unknown" }
    val commit = sh(Seq("git", "rev-parse", "HEAD"))
    val ts = java.time.Instant.now().toString

    val rows = queries.map { q =>
      val t8 = times.getOrElse((q, 8), -1.0)
      val t32 = times.getOrElse((q, 32), -1.0)
      val ratio = if (t8 > 0 && t32 > 0) t8 / t32 else -1.0
      (q, t8, t32, ratio)
    }
    val md = new StringBuilder
    md.append("# PARALLEL — measured c32/c8 speedup at 8x data\n\n")
    md.append(s"Corpus: ScaleBench uniform_x8 off `$baseDir` (8x rows, fixed\n")
    md.append("distribution). Per cell: min of " + passes + " noop-sink runs in a\n")
    md.append("dedicated `local[cpus]` session (shuffle.partitions = cpus — the\n")
    md.append("Bench session shape). Ratio > 1 means the query turns extra cores\n")
    md.append("into wall-clock at a data size that exercises task slots; at sf0.1\n")
    md.append("the suite is latency-bound (avg parallelism < 1) and this ratio is\n")
    md.append("unmeasurable by construction.\n\n")
    md.append(s"Commit `$commit`, $ts.\n\n")
    md.append("| query | c8 s | c32 s | c32/c8 speedup |\n|---|---|---|---|\n")
    rows.foreach { case (q, t8, t32, r) =>
      val rs = if (r > 0) f"$r%.2f×" else "n/a"
      md.append(f"| $q | $t8%.2f | $t32%.2f | $rs |\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PARALLEL.md"),
      md.toString)
    val json = rows.map { case (q, t8, t32, r) =>
      f"""{"query":"$q","c8_sec":$t8%.3f,"c32_sec":$t32%.3f,"speedup":$r%.3f}"""
    }.mkString("[", ",", "]")
    val line = s"""{"metric":"parallel_scaling","commit":"$commit",""" +
      s""""timestamp":"$ts","base":"$baseDir","scale":8,"rows":$json}"""
    println(line)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("bench"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench", "parallel_scaling.json"), line + "\n")
  }
}
