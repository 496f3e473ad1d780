package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark entry point: one workload, one seed, one process.
  *
  *   perfbench.Main --workload erd_serve|corpus_curate --seed N
  *     --seconds S --trace 0|1 --work DIR [--commit ID] [--smoke]
  *
  * Prints a diagnostics line and, last, the result line:
  * {"correct", "attempted", "failed", "metrics"}.
  */
object Main {
  private val warmupRounds = 3

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; +inf entries (failed passes) sort last. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      val frac = pos - lo
      if (frac == 0) s(lo)
      else if (s(hi).isInfinite) Double.PositiveInfinity
      else s(lo) + (s(hi) - s(lo)) * frac
    }
  }

  def main(args: Array[String]): Unit = {
    def opt(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val workloadName = opt("--workload").getOrElse("")
    val seed = opt("--seed").map(_.toLong).getOrElse(1L)
    val smoke = args.contains("--smoke")
    val seconds = if (smoke) 0.5 else opt("--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = opt("--trace").contains("1")
    val work = opt("--work").getOrElse("work")
    val nproc = Runtime.getRuntime.availableProcessors()

    val wl: Workload = workloadName match {
      case "erd_serve" => new ErdServe(seed, s"$work/$workloadName", smoke)
      case "corpus_curate" => new CorpusCurate(seed, s"$work/$workloadName", smoke)
      case other =>
        System.err.println(s"unknown workload '$other' (erd_serve | corpus_curate)")
        sys.exit(2)
    }
    Workload.deleteTree(s"$work/$workloadName")

    val tg = System.nanoTime()
    wl.generate()
    val genS = (System.nanoTime() - tg) / 1e9

    // Set-up: the session from the program's builder, then warm-up rounds.
    // setup_s runs from process start to the first timed pass, the input
    // generation left out.
    val spark = graft.GraftSession.builder().master(s"local[$nproc]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - genS
    val warmups = (0 until (if (smoke) 1 else warmupRounds)).map { round =>
      val t0 = System.nanoTime()
      wl.warmup(spark, round)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - genS
    val confs = spark.conf.getAll.toSeq.sortBy(_._1).toMap

    val tracer = if (trace) Some(new Tracer(spark)) else None
    wl.tracer = tracer
    Heap.reset()
    val codegenNs0 = CodeGenerator.compileTime
    val codegenN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cpu0 = processCpuNs()
    val outcomes = wl.measure(spark, seconds, traceEvery = if (trace) 2 else 0,
      minPasses = if (trace) 2 else 1)
    val cpuS = (processCpuNs() - cpu0 - Heap.cpuNs) / 1e9
    val codegenMs = (CodeGenerator.compileTime - codegenNs0) / 1e6
    val codegenClasses = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenN0).toDouble
    val peakHeap = Heap.sample()

    val n = outcomes.length
    val failures = outcomes.flatMap(_.failure)
    val times = outcomes.map(o => if (o.failure.isDefined) Double.PositiveInfinity else o.seconds)
    val unexpected = failures.filterNot(_.kind == "stale_catalog")
    val correct = unexpected.isEmpty
    def finite(x: Double): Double = if (x.isNaN || x.isInfinite) 1e9 else x
    val p50 = finite(median(times))
    val p95 = if (n >= 200) Some(finite(quantile(times, 0.95))) else None

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s_p50", p50, "s"),
        ("cpu_s_per_pass", cpuS / n, "s"),
        ("peak_heap_mb", peakHeap / 1048576.0, "MB"),
        ("ok_share", (n - failures.length).toDouble / n, "ratio"))
      else {
        val t = tracer.get
        t.flush()
        layerMetrics(wl, t, outcomes, codegenMs / n, codegenClasses / n)
      }

    val untraced = outcomes.filterNot(_.traced).map(_.seconds)
    val tracedT = outcomes.filter(_.traced).map(_.seconds)
    val kinds = outcomes.groupBy(_.kind).map { case (k, os) => k -> os.length }
    val diag = Map[String, Any](
      "workload" -> workloadName, "seed" -> seed, "nproc" -> nproc,
      "commit" -> opt("--commit").getOrElse("unknown"), "trace" -> trace, "smoke" -> smoke,
      "session_conf" -> confs, "master" -> s"local[$nproc]",
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "input_gen_s" -> genS, "session_s" -> sessionS, "warmup_rounds_s" -> warmups, "passes" -> n,
      "pass_s" -> outcomes.map(_.seconds), "passes_by_kind" -> kinds,
      "pass_s_p95" -> p95.orNull, "failed_share" -> failures.length.toDouble / n,
      "failures_by_kind" -> failures.groupBy(_.kind).map { case (k, v) => k -> v.length },
      "failure_samples" -> failures.map(_.detail).distinct.take(5),
      "traced_pass_s_p50" -> (if (tracedT.nonEmpty) median(tracedT) else null),
      "untraced_pass_s_p50" -> (if (untraced.nonEmpty) median(untraced) else null))
    println(Json.render(Map("diagnostics" -> diag)))
    tracer.foreach { t =>
      val f = new java.io.File(s"$work/spans-$workloadName-seed$seed.jsonl")
      val w = new java.io.PrintWriter(f)
      try t.spans.foreach { s =>
        w.println(Json.render(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "pass" -> s.pass, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      } finally w.close()
      t.close()
    }
    spark.stop()
    println(Json.render(Map(
      "correct" -> correct, "attempted" -> n, "failed" -> failures.length,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
  }

  /** Per-layer metrics of a traced run: layer times and Spark counters
    * averaged over traced passes, layer-specific counters over the calls
    * that produced them.
    */
  private def layerMetrics(wl: Workload, t: Tracer, outcomes: Seq[PassOutcome],
      codegenMs: Double, codegenClasses: Double): Seq[(String, Double, String)] = {
    val passes = math.max(1, wl.tracedPasses).toDouble
    val spans = t.spans
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    def x(name: String): Double = wl.extras.get(name).map { case (sum, n) => sum / n }.getOrElse(0.0)
    val perLayer = Workload.layers.flatMap { l =>
      val mine = spans.filter(_.name == l)
      val cs = mine.flatMap(t.countersOf)
      def sum(f: Counters => Long): Double = cs.map(f(_).toDouble).sum
      Seq(
        (s"$l.s", mine.map(_.seconds).sum / passes, "s"),
        (s"$l.self_s", mine.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum / passes, "s"),
        (s"$l.cpu_s", sum(_.cpuNs.sum) / 1e9 / passes, "s"),
        (s"$l.sched_wait_s", sum(_.schedWaitMs.sum) / 1e3 / passes, "s"),
        (s"$l.shuffle_mb", sum(_.shuffleBytes.sum) / 1048576.0 / passes, "MB"),
        (s"$l.spill_mb", sum(_.spillBytes.sum) / 1048576.0 / passes, "MB"),
        (s"$l.plan_s", sum(_.planMs.sum) / 1e3 / passes, "s"))
    }
    val layerS = perLayer.map(m => m._1 -> m._2).toMap
    val datatestSpans = spans.filter(_.name == "datatest")
    val datatestRecords = datatestSpans.flatMap(t.countersOf).map(_.recordsRead.sum.toDouble).sum /
      math.max(1, datatestSpans.length)
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    // overhead on the most common pass kind, failed passes left out
    val kind = outcomes.groupBy(_.kind).maxBy(_._2.length)._1
    val ok = outcomes.filter(o => o.kind == kind && o.failure.isEmpty)
    val traced = ok.filter(_.traced).map(_.seconds)
    val untraced = ok.filterNot(_.traced).map(_.seconds)
    perLayer ++ Seq(
      ("catalog.tables", x("catalog.tables"), "count"),
      ("catalog.ms_per_table", ratio(layerS("catalog.s") * 1000, x("catalog.tables")), "ms"),
      ("detect.candidates", x("detect.candidates"), "count"),
      ("detect.edges", x("detect.edges"), "count"),
      ("detect.kept_ratio", ratio(x("detect.edges"), x("detect.candidates")), "ratio"),
      ("datatest.edges_tested", x("datatest.edges_tested"), "count"),
      ("datatest.records_read", datatestRecords, "count"),
      ("datatest.pass_ratio", ratio(x("datatest.validated"), x("datatest.edges_tested")), "ratio"),
      ("render.bytes", x("render.bytes"), "bytes"),
      ("state.changed_tables", x("state.changed_tables"), "count"),
      ("state.bytes_written", x("state.bytes_written"), "bytes"),
      ("state.cache_hit_ratio", x("state.cache_hits"), "ratio"),
      ("restore.bytes_written", x("restore.bytes_written"), "bytes"),
      ("ext.TextAnalysis.kept_ratio", x("ext.TextAnalysis.kept_ratio"), "ratio"),
      ("ext.Dedup.candidates", x("ext.Dedup.candidates"), "count"),
      ("ext.Dedup.pairs", x("ext.Dedup.pairs"), "count"),
      ("ext.Dedup.precision", ratio(x("ext.Dedup.true_pairs"), x("ext.Dedup.pairs")), "ratio"),
      ("ext.FuzzyJoin.pairs", x("ext.FuzzyJoin.pairs"), "count"),
      ("ext.Decontaminate.flagged", x("ext.Decontaminate.flagged"), "count"),
      ("ext.Similarity.pairs", x("ext.Similarity.pairs"), "count"),
      ("ext.CorpusPipeline.bytes_written", x("ext.CorpusPipeline.bytes_written"), "bytes"),
      ("spark.codegen_ms", codegenMs, "ms"),
      ("spark.codegen_classes", codegenClasses, "count"),
      ("trace.overhead_s",
        if (traced.nonEmpty && untraced.nonEmpty) median(traced) - median(untraced) else 0.0, "s"))
  }
}

/** Live heap after a full collection, sampled only where no pass runs:
  * after every corpus pass, after each onboarding request of erd_serve
  * (with both clients held between requests) and at the end of the window.
  * The process CPU the samples take is left out of the window's CPU.
  */
object Heap {
  private var peak = 0L
  private var cpu = 0L

  def reset(): Unit = synchronized { collect(); peak = 0L; cpu = 0L }

  /** Collects, records the live heap, and returns the peak so far. */
  def sample(): Long = synchronized {
    val c0 = Main.processCpuNs()
    collect()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    cpu += Main.processCpuNs() - c0
    peak
  }

  /** Process CPU nanoseconds the samples since the last reset took. */
  def cpuNs: Long = synchronized(cpu)

  // Spark's context cleaner drops broadcast and shuffle blocks only after a
  // collection has queued their owners; the second collection frees them.
  private def collect(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
  }
}

/** Minimal JSON writer for the result and diagnostics lines. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
