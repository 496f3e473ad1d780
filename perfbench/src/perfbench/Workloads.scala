package perfbench

import java.io.File
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import graft.GraftEngine
import graft.detect.RelationshipDetector
import graft.ext.{CorpusPipeline, Decontaminate, Dedup, FuzzyJoin, Similarity, TextAnalysis}
import graft.restore.SnapshotRestore
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** A failed output check; `kind` "stale_catalog" marks the known
  * directory-keyed catalog cache defect, anything else is unexpected.
  */
final case class CheckFailed(kind: String, detail: String) extends Exception(s"$kind: $detail")

/** One timed pass; `kind` tells request types of one workload apart. */
final case class PassOutcome(kind: String, seconds: Double, traced: Boolean,
    failure: Option[CheckFailed])

object Workload {
  val layers: Seq[String] = Seq("catalog", "analyze", "detect", "datatest", "render", "state",
    "restore", "ext.TextAnalysis", "ext.Dedup", "ext.FuzzyJoin", "ext.Decontaminate",
    "ext.Similarity", "ext.CorpusPipeline")

  def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def bytesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".crc")) 0L else f.length()
    walk(new File(path))
  }

  /** Whether a sequential loop starts another pass: until `minPasses` ran,
    * then while the projected end of the next pass stays within `seconds`.
    */
  def another(done: collection.Seq[PassOutcome], seconds: Double, minPasses: Int): Boolean = {
    val spent = done.map(_.seconds).sum
    done.length < minPasses || spent + spent / done.length <= seconds
  }

  def edges(rows: Seq[Row]): Set[(String, String, String, String)] =
    rows.map(r => (r.getAs[String]("source_table"), r.getAs[String]("source_column"),
      r.getAs[String]("target_table"), r.getAs[String]("target_column"))).toSet

  def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }
}

/** One benchmark workload. Inputs come from `seed`; `small` selects the
  * smoke sizes.
  */
abstract class Workload(val seed: Long, val work: String, val small: Boolean) {
  /** Span recorder of a traced run; None when tracing is off. */
  var tracer: Option[Tracer] = None
  /** Layer-specific counters of traced passes: (sum, number of samples). */
  val extras = mutable.LinkedHashMap[String, (Double, Int)]()
  var tracedPasses = 0
  // counters of the calling thread's traced pass, evaluated after its clock stops
  private val pending = new ThreadLocal[mutable.ArrayBuffer[() => Unit]] {
    override def initialValue() = mutable.ArrayBuffer[() => Unit]()
  }
  private val firstDigests = mutable.Map[String, String]()

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Checks `digest` against the first one this run recorded for `key`
    * (warm-up passes included), recording it when none exists.
    */
  def sameAsFirst(key: String, digest: String): Unit = synchronized {
    if (firstDigests.getOrElseUpdate(key, digest) != digest)
      throw CheckFailed("check", s"$key digest differs from the first pass of seed $seed")
  }

  /** Records a layer counter of a traced pass. `v` is evaluated after the
    * pass's clock stops, failed passes included; untraced passes skip it.
    */
  def add(metric: String, v: => Double): Unit =
    if (tracer.exists(_.traced)) pending.get += { () =>
      val x = v
      extras.synchronized {
        val (sum, n) = extras.getOrElse(metric, (0.0, 0))
        extras(metric) = (sum + x, n + 1)
      }
    }

  /** Writes the seeded inputs; runs before any session exists. */
  def generate(): Unit

  /** The warm-up of set-up round `round`. */
  def warmup(spark: SparkSession, round: Int): Unit

  /** Timed passes for about `seconds` seconds and at least `minPasses`.
    * `traceEvery` > 0 traces every pass whose index is a multiple of it.
    */
  def measure(spark: SparkSession, seconds: Double, traceEvery: Int, minPasses: Int): Seq[PassOutcome]

  /** Runs one pass body under a root span and converts failures; the
    * pass's counters are taken after the clock stops.
    */
  protected def timed(kind: String, passId: Long, traced: Boolean)(body: => Unit): PassOutcome = {
    tracer.foreach(_.beginPass(if (traced) passId else -1L))
    val t0 = System.nanoTime()
    var failure = failing(span("pass")(body))
    if (traced) tracer.foreach(_.flush())
    val s = (System.nanoTime() - t0) / 1e9
    val counters = pending.get.toList
    pending.get.clear()
    counters.foreach(c => failure = failure.orElse(failing(c())))
    tracer.foreach(_.beginPass(-1L))
    if (traced) synchronized { tracedPasses += 1 }
    PassOutcome(kind, s, traced, failure)
  }

  private def failing(body: => Unit): Option[CheckFailed] =
    try { body; None }
    catch {
      case c: CheckFailed => Some(c)
      case NonFatal(e) => Some(CheckFailed("exception", e.toString))
    }

  /** The lake's planted FK edges must be exactly the edges found. */
  def requireEdges(lake: Gen.Lake, found: Seq[Row]): Unit = {
    val edges = Workload.edges(found)
    val missed = lake.planted -- edges
    if (missed.nonEmpty) throw CheckFailed("check", s"planted FK edges not detected: ${missed.mkString(", ")}")
    val extra = edges -- lake.planted
    if (extra.nonEmpty) throw CheckFailed("check", s"edges the generator did not plant: ${extra.mkString(", ")}")
  }
}

/** The reference pipeline on a lake: catalog → classify → detect → data
  * test → render (mermaid + drawio), with its output checks. Lakes share
  * roles per seed, so their role-canonical ERDs are equal.
  */
final class ColdPipeline(seed: Long, dir: String, val shape: Gen.LakeShape) {
  private var made = 0

  def newLake(s: Gen.LakeShape = shape): Gen.Lake = {
    made += 1
    Gen.writeLake(s"$dir/lake$made", s, seed, made)
  }

  /** Runs the pipeline under `w`'s spans, checks its edges and returns the
    * digest of the role-canonical mermaid ERD.
    */
  def run(w: Workload, spark: SparkSession, lake: Gen.Lake): String = {
    val engine = new GraftEngine(spark, lake.dir)
    val tables = w.span("catalog")(engine.catalog.collect())
    w.span("analyze")(engine.classifiedColumns)
    val rels = w.span("detect")(engine.relationships.collect())
    val tested = w.span("datatest")(engine.enhancedRelationships().collect())
    val (mermaid, drawio) = w.span("render")((engine.renderErd("mermaid"), engine.renderErd("drawio")))
    w.requireEdges(lake, tested)
    w.add("catalog.tables", tables.length)
    w.add("detect.candidates", ColdPipeline.candidates(engine.classifiedColumns, rels))
    w.add("detect.edges", rels.length)
    w.add("datatest.edges_tested", rels.length)
    w.add("datatest.validated", tested.count(_.getAs[Boolean]("data_validated")))
    w.add("render.bytes", mermaid.length + drawio.length)
    ColdPipeline.canonicalDigest(mermaid, lake.roles)
  }
}

object ColdPipeline {
  /** Candidate edges of detect's default strategy set, before validation,
    * conflict resolution and top-k. The set is restated here, so it fails
    * the pass when it no longer gives detect's edges.
    */
  def candidates(cols: DataFrame, rels: Seq[Row]): Long = {
    import RelationshipDetector._
    val all = exactBaseMatch(cols).unionByName(suffixTableMatch(cols))
      .unionByName(dataVaultMatch(cols)).unionByName(enhancedPkFkMatch(cols))
      .unionByName(typeCompatMatch(cols))
    if (Workload.edges(filterTopK(resolveConflicts(validate(all, cols))).collect()) != Workload.edges(rels))
      throw CheckFailed("check", "detect.candidates no longer restates RelationshipDetector.detect's strategies")
    all.count()
  }

  /** The lake shape of every ERD workload: star and data-vault tables. */
  def shape(seed: Long, scale: Double): Gen.LakeShape =
    Gen.lakeShape(seed, dims = 2, facts = 2, hubs = 2, links = 1, sats = 1, scale = scale)

  /** Digest of an ERD with entity names replaced by their roles. */
  def canonicalDigest(erd: String, roles: Map[String, String]): String = {
    val re = ("(?<![a-z])(" + roles.keys.toSeq.sortBy(-_.length).mkString("|") + ")(?![a-z])").r
    Workload.sha(re.replaceAllIn(erd, m => roles(m.group(1))).split("\n").sorted.mkString("\n"))
  }
}

/** Closed-loop ERD serving: two clients, each owning a small hot lake and
  * its state and cache paths, send requests back to back on one long-lived
  * session. A request is an incremental refresh: changed tables, cached
  * relationships (a simulated clock expires the cache TTL every ~14
  * requests), mermaid render, saved state. One client (the steward) first
  * rewrites a table in place with an added column ("drift") on one request
  * in 40 and restores it from its snapshot two requests later ("restore");
  * the other (the onboarder) instead takes a never-seen lake through the
  * whole reference pipeline ([[ColdPipeline]]) on one request in 20, its
  * first one included, so every run starts with the same overlap.
  */
final class ErdServe(seed: Long, work: String, small: Boolean) extends Workload(seed, work, small) {
  private val clients = 2
  private val steward = (seed % clients).toInt
  private val onboarding = new ColdPipeline(seed, s"$work/onboard",
    ColdPipeline.shape(seed, if (small) 0.1 else 0.5))
  private val shape = ColdPipeline.shape(seed, if (small) 0.1 else 0.2)
  private val ttlMs = graft.core.DetectionConfig().cacheTtlMs
  // digest of the role-canonical ERD every lake must render
  @volatile private var canonicalRef: String = null

  private final class Hot(val client: Int, val lake: Gen.Lake) {
    val root = s"$work/serve/c$client"
    val state = s"$root/state"
    val cache = s"$root/cache"
    val snaps = s"$root/snapshots"
    var nowMs = 1700000000000L
    var drifted: Option[(String, Long)] = None // table, snapshot version
    val pending = mutable.Set[String]() // tables rewritten since the last saved state
    val digests = mutable.Map[Boolean, String]() // by drifted?
  }

  private var hot: IndexedSeq[Hot] = IndexedSeq.empty

  def generate(): Unit =
    hot = (0 until clients).map(c =>
      new Hot(c, Gen.writeLake(s"$work/serve/c$c/data", shape, seed, 1000L + c)))

  private def refresh(spark: SparkSession, h: Hot, event: Option[String], rng: Random): Unit = {
    event.foreach {
      case "drift" =>
        val table = h.lake.tables(rng.nextInt(h.lake.tables.length))
        val path = s"${h.lake.dir}/$table.parquet"
        val version = h.nowMs
        span("restore")(SnapshotRestore.writeVersion(
          spark.read.parquet(path), s"${h.snaps}/$table.parquet", version))
        add("restore.bytes_written", Workload.bytesUnder(s"${h.snaps}/$table.parquet/_v=$version"))
        // the upstream writer: same rows, one added column, swapped in place
        val tmp = s"$path.rewrite"
        spark.read.parquet(path).withColumn("drift_note", lit("late-arriving"))
          .write.mode(SaveMode.Overwrite).parquet(tmp)
        Workload.deleteTree(path)
        new File(tmp).renameTo(new File(path))
        h.drifted = Some((table, version))
        h.pending += table
      case "restore" =>
        h.drifted.foreach { case (table, version) =>
          val r = span("restore")(SnapshotRestore.restoreTable(
            spark, h.snaps, h.lake.dir, s"$table.parquet", version, force = true))
          if (r.status != "restored") throw CheckFailed("check", s"restore of $table: ${r.detail}")
          add("restore.bytes_written", Workload.bytesUnder(s"${h.lake.dir}/$table.parquet"))
          h.drifted = None
          h.pending += table
        }
    }
    h.nowMs += ttlMs / 20 + rng.nextInt(3600 * 1000)
    val engine = new GraftEngine(spark, h.lake.dir)
    val tables = span("catalog")(engine.catalog.collect())
    val changed = span("state")(engine.changedTables(h.state).collect().map(_.getString(0)).toSet)
    val cacheStamp = new File(h.cache).lastModified()
    val rels = span("state")(engine.relationshipsCached(h.cache, h.nowMs).collect())
    val hit = new File(h.cache).lastModified() == cacheStamp
    val erd = span("render")(engine.renderErd("mermaid"))
    span("state")(engine.saveProcessedState(h.state, h.nowMs))
    val expected = h.pending.toSet
    h.pending.clear()
    add("catalog.tables", tables.length)
    add("state.changed_tables", changed.size)
    add("state.cache_hits", if (hit) 1 else 0)
    add("state.bytes_written", Workload.bytesUnder(h.state) + (if (hit) 0L else Workload.bytesUnder(h.cache)))
    add("render.bytes", erd.length)
    if (changed != expected) {
      val kind = if (event.isDefined && changed.subsetOf(expected)) "stale_catalog" else "check"
      throw CheckFailed(kind, s"changed tables ${changed.toSeq.sorted} != rewritten ${expected.toSeq.sorted}")
    }
    requireEdges(h.lake, rels)
    val digest = Workload.sha(erd)
    if (digest != h.digests.getOrElseUpdate(h.drifted.isDefined, digest))
      throw CheckFailed("check", "ERD digest differs from the first render of this lake state")
    if (h.drifted.isEmpty) {
      val canonical = ColdPipeline.canonicalDigest(erd, h.lake.roles)
      if (canonicalRef == null) canonicalRef = canonical
      else if (canonical != canonicalRef) throw CheckFailed("check", "ERD differs from the other lakes'")
    }
  }

  private def onboard(spark: SparkSession, lake: Gen.Lake): Unit =
    if (onboarding.run(this, spark, lake) != canonicalRef)
      throw CheckFailed("check", "onboarded ERD differs from the hot lakes'")

  def warmup(spark: SparkSession, round: Int): Unit =
    hot.foreach { h =>
      Workload.deleteTree(h.state)
      Workload.deleteTree(h.cache)
      h.digests.clear()
      h.pending ++= h.lake.tables // no saved state yet: every table is new
      refresh(spark, h, None, new Random(seed))
    }

  // requests hold it shared; a heap sample takes it alone, between requests
  private val gate = new java.util.concurrent.locks.ReentrantReadWriteLock(true)

  private def request(pass: => PassOutcome): PassOutcome = {
    gate.readLock.lock()
    try pass finally gate.readLock.unlock()
  }

  /** Each client sends the same number of requests, about `seconds` worth
    * on 4 cores: a time-bounded loop would let the one onboarding per run
    * be shared by a speed-dependent number of refreshes. The live heap is
    * sampled after each onboarding.
    */
  def measure(spark: SparkSession, seconds: Double, traceEvery: Int,
      minPasses: Int): Seq[PassOutcome] = {
    val perClient = math.max(minPasses, math.round(seconds / 1.25).toInt)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[PassOutcome]()
    val threads = hot.map { h =>
      new Thread(() => {
        val rng = new Random(seed * 131L + h.client)
        val drift = 1 + rng.nextInt(2)
        (0 until perClient).foreach { i =>
          val traced = traceEvery > 0 && i % traceEvery == 0
          val id = h.client * 1000000L + i
          if (h.client != steward && i % 20 == 0) {
            val lake = onboarding.newLake() // generated outside the timed request
            results.add(request(timed("onboard", id, traced)(onboard(spark, lake))))
            Workload.deleteTree(lake.dir)
            gate.writeLock.lock()
            try Heap.sample() finally gate.writeLock.unlock()
          } else {
            val event =
              if (h.client != steward) None
              else if (i % 40 == drift) Some("drift")
              else if (i % 40 == drift + 2) Some("restore")
              else None
            results.add(request(timed("refresh", id, traced)(refresh(spark, h, event, rng))))
          }
        }
      }, s"client-${h.client}")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    results.asScala.toSeq
  }
}

/** Corpus curation to a frozen release: repetition gate → MinHash near-dup
  * + clusters → set-similarity join → decontamination → semantic dedup →
  * freeze, written as parquet.
  */
final class CorpusCurate(seed: Long, work: String, small: Boolean) extends Workload(seed, work, small) {
  private val (nDocs, nVecs, nEval) = if (small) (300, 160, 20) else (600, 300, 40)
  private var corpus: Gen.Corpus = null

  def generate(): Unit = corpus = Gen.writeCorpus(s"$work/corpus/input", seed, nDocs, nVecs, nEval)

  private def runPass(spark: SparkSession, c: Gen.Corpus): Unit = {
    import spark.implicits._
    val docs = spark.read.parquet(s"${c.dir}/documents.parquet")
    val eval = spark.read.parquet(s"${c.dir}/eval.parquet")
    val emb = spark.read.parquet(s"${c.dir}/embeddings.parquet")
    val gated = span("ext.TextAnalysis")(TextAnalysis.withRepetitionMetrics(docs)
      .filter(col("keep")).select("doc_id", "text", "lang", "source").localCheckpoint())
    val gatedIds = span("ext.TextAnalysis")(gated.select("doc_id").as[Long].collect().toSet)
    val (pairs, nearDrops) = span("ext.Dedup") {
      val p = Dedup.nearDuplicates(gated, minJaccard = 0.7).select("id_a", "id_b").localCheckpoint()
      val labels = Dedup.dedupClusters(p)
      (p.as[(Long, Long)].collect(),
        labels.filter(col("canonical_id") =!= col("id")).select("id").as[Long].collect().toSet)
    }
    val simPairs = span("ext.FuzzyJoin")(FuzzyJoin.setSimJoin(gated, tNum = 1, tDen = 2, shingleK = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect())
    val flagged = span("ext.Decontaminate")(Decontaminate.contamination(gated, eval)
      .filter(col("contaminated")).select("doc_id").as[Long].collect().toSet)
    val semDrops = span("ext.Similarity")(Similarity.semanticDedup(emb, tau = 0.95)
      .filter(!col("keep")).select("vec_id").as[Long].collect().toSet)
    val drops = nearDrops ++ simPairs.map(_._2) ++ flagged ++ semDrops
    val out = s"$work/corpus/release"
    val released = span("ext.CorpusPipeline") {
      val release = gated.join(broadcast(drops.toSeq.toDF("doc_id")), Seq("doc_id"), "left_anti")
      CorpusPipeline.freeze(release).write.mode(SaveMode.Overwrite).partitionBy("split").parquet(out)
      spark.read.parquet(out).select("doc_id", "split").as[(Long, String)].collect()
    }
    // checks against the generator's ground truth
    val releasedIds = released.map(_._1).toSet
    c.exactGroups.foreach { g =>
      if (g.count(releasedIds) > 1) throw CheckFailed("check", s"exact duplicates ${g.mkString(",")} released")
    }
    // nothing outside the planted sets may be dropped, and a planted group
    // that semantic dedup cannot touch keeps a member
    val semantic = c.vecGroups.flatten.toSet
    val planted = (c.families ++ c.exactGroups ++ c.vecGroups).flatten.toSet ++ c.spam ++ c.contaminated
    val lost = (0L until c.n).filterNot(id => planted(id) || releasedIds(id))
    if (lost.nonEmpty) throw CheckFailed("check", s"unplanted documents dropped: ${lost.take(10).mkString(",")}")
    (c.families ++ c.exactGroups).filterNot(_.exists(semantic)).foreach { g =>
      if (!g.exists(releasedIds)) throw CheckFailed("check", s"no member of ${g.mkString(",")} released")
    }
    val expectedKept = (gatedIds -- drops).toSeq.map(id => c.texts(id.toInt)).distinct.size
    val splitSum = released.groupBy(_._2).values.map(_.length).sum
    if (splitSum != expectedKept || released.length != releasedIds.size)
      throw CheckFailed("check", s"split counts sum to $splitSum, kept documents $expectedKept")
    val digest = Workload.sha(released.sortBy(_._1).map { case (id, s) => s"$id:$s" }.mkString(","))
    sameAsFirst("release", digest)
    add("ext.TextAnalysis.kept_ratio", gatedIds.size.toDouble / c.n)
    add("ext.Dedup.candidates", Dedup.minhashCandidates(gated).count())
    add("ext.Dedup.pairs", pairs.length)
    add("ext.Dedup.true_pairs", {
      val family = (c.families ++ c.exactGroups).zipWithIndex.flatMap { case (g, i) => g.map(_ -> i) }.toMap
      pairs.count { case (a, b) => family.get(a).exists(family.get(b).contains) }
    })
    add("ext.FuzzyJoin.pairs", simPairs.length)
    add("ext.Decontaminate.flagged", flagged.size)
    add("ext.Similarity.pairs", semDrops.size)
    add("ext.CorpusPipeline.bytes_written", Workload.bytesUnder(out))
  }

  def warmup(spark: SparkSession, round: Int): Unit = runPass(spark, corpus)

  def measure(spark: SparkSession, seconds: Double, traceEvery: Int,
      minPasses: Int): Seq[PassOutcome] = {
    val out = mutable.ArrayBuffer[PassOutcome]()
    var i = 0
    while (Workload.another(out, seconds, minPasses)) {
      out += timed("pass", i, traceEvery > 0 && i % traceEvery == 0)(runPass(spark, corpus))
      Heap.sample()
      i += 1
    }
    out.toSeq
  }
}
