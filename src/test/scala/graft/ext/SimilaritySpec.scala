package graft.ext

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("dot/cosine on known vectors") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f), Array(2.0f, 0.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.dot(col("a"), col("b")).as("ab"),
      Similarity.cosine(col("a"), col("c")).as("ac")).collect().head
    assert(r.getDouble(0) === 0.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("brute-force top-k: self excluded, ranks deterministic, k respected") {
    val emb = Tables.embeddings(spark, sf0001)
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 3)
    val byQuery = out.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQuery.values.foreach { rows =>
      assert(rows.length === 3)
      assert(!rows.exists(r => r.getAs[Long]("neighbor_id") == r.getAs[Long]("query_id")))
      // ranks 1..3 with non-increasing cosine
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2, 3))
      val cs = sorted.map(_.getAs[Double]("cosine"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH top-k recalls a majority of brute-force top-3 neighbours") {
    val emb = Tables.embeddings(spark, sf0001).cache()
    val exact = Similarity.bruteForceTopK(emb, emb, k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // On near-orthogonal random vectors, collision prob per table is
    // (1-θ/π)^planes ≈ 0.13 at 4 planes; 8 tables lifts recall past half.
    val approx = Similarity.lshTopK(emb, k = 3, numPlanes = 4, numTables = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall > 0.4, s"LSH recall too low: $recall")
  }

  test("IVF top-k recalls a majority of brute-force top-3 neighbours") {
    val emb = Tables.embeddings(spark, sf0001).cache()
    val exact = Similarity.bruteForceTopK(emb, emb, k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8 cells over random vectors ≈ 1/8 of the corpus per cell; probing the
    // 3 nearest cells covers the true neighbours far more often than not.
    val approx = Similarity.ivfTopK(emb, k = 3, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall > 0.4, s"IVF recall too low: $recall")
  }

  test("trained IVF matches or beats the sampled quantizer's recall at equal probes") {
    val emb = Tables.embeddings(spark, sf0001).cache()
    val exact = Similarity.bruteForceTopK(emb, emb, k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val sampled = recall(Similarity.ivfTopK(emb, k = 3, nlist = 8, nprobe = 3))
    val trained = recall(Similarity.ivfTrainedTopK(emb, k = 3, nlist = 8, nprobe = 3))
    assert(trained > 0.4, s"trained IVF recall too low: $trained")
    // Lloyd refinement must not lose recall vs the raw sample (everything
    // here is deterministic, so this is a stable property, not a flake)
    assert(trained >= sampled - 0.02, s"trained $trained < sampled $sampled")
  }

  test("trained IVF centroids differ from the init sample and keep ranks well-formed") {
    val emb = Tables.embeddings(spark, sf0001)
    val trained = Similarity.ivfTrainedTopK(emb, k = 3, nlist = 8, nprobe = 2)
    val sampled = Similarity.ivfTopK(emb, k = 3, nlist = 8, nprobe = 2)
    // training moved the quantizer: assignments (and thus some neighbour
    // sets) change
    val t = trained.select("query_id", "neighbor_id").collect().toSet
    val s0 = sampled.select("query_id", "neighbor_id").collect().toSet
    assert(t !== s0)
    val byQuery = trained.collect().groupBy(_.getAs[Long]("query_id"))
    byQuery.values.foreach { rows =>
      assert(rows.length <= 3)
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to rows.length))
    }
  }

  test("IVF search space is cell-bounded: every query probes nprobe cells") {
    val emb = Tables.embeddings(spark, sf0001)
    val out = Similarity.ivfTopK(emb, k = 3, nlist = 8, nprobe = 2)
    // per-query candidate count < corpus size (never brute force) and ranks
    // are well-formed
    val byQuery = out.collect().groupBy(_.getAs[Long]("query_id"))
    byQuery.values.foreach { rows =>
      assert(rows.length <= 3)
      val ranks = rows.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks === (1 to rows.length))
    }
  }

  test("int8 quantization: exact values on a known vector, bounded roundtrip error") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0f, -0.5f, 0.25f)), (2L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("scale"), r.getAs[Seq[Int]]("qvec"))).toMap
    assert(q(1L)._1 === 127.0)
    assert(q(1L)._2 === Seq(127, -63, 32)) // floor(x*127 + 0.5)
    assert(q(2L)._1 === 1.0) // zero vector: scale fallback, no div-by-zero
    assert(q(2L)._2 === Seq(0, 0, 0))
    // roundtrip on real embeddings: |dequant - x| <= 0.5/scale everywhere
    val emb = Tables.embeddings(spark, sf0001)
    val bad = Similarity.quantizeInt8(emb)
      .join(emb, "vec_id")
      .select(aggregate(
        zip_with(Similarity.dequantize(col("qvec"), col("scale")), col("embedding"),
          (dq, x) => abs(dq - x.cast("double")) - lit(0.5) / col("scale")),
        lit(0.0), (acc, d) => greatest(acc, d)).as("worst"))
      .filter(col("worst") > 1e-9).count()
    assert(bad === 0L, "quantization error above half a quantization step")
  }

  test("cosinePairsAbove is symmetric-free (a<b) and thresholded") {
    val emb = Tables.embeddings(spark, sf0001)
    val rows = Similarity.cosinePairsAbove(emb, 0.35).collect()
    assert(rows.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    assert(rows.forall(r => r.getAs[Double]("cosine") >= 0.35))
  }

  test("LSH pair path equals the exact cross-product path at threshold 0.35") {
    val emb = Tables.embeddings(spark, sf0001).cache()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cosine"))
    val exact = Similarity.cosinePairsAbove(emb, 0.35).collect().map(key).toSet
    val lsh = Similarity.cosinePairsAboveLsh(emb, 0.35).collect().map(key).toSet
    assert(lsh === exact) // precision exact by construction; recall tuned to 1.0
  }

  test("centroidClassify: separable clusters give a diagonal confusion matrix") {
    import spark.implicits._
    // two clean clusters on orthogonal axes + one vector leaning the wrong way
    val rows = Seq(
      (1L, Array(1.0f, 0.1f, 0f, 0f), 0),
      (2L, Array(0.9f, 0.2f, 0f, 0f), 0),
      (3L, Array(0.1f, 1.0f, 0f, 0f), 1),
      (4L, Array(0.2f, 0.9f, 0f, 0f), 1),
      (5L, Array(0.9f, 0.1f, 0f, 0f), 1) // labeled 1, sits in cluster 0
    ).toDF("vec_id", "embedding", "label")
    val cm = Similarity.centroidClassify(rows).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Int]("predicted")) -> r.getAs[Long]("n"))
      .toMap
    assert(cm((0, 0)) === 2L)
    assert(cm((1, 1)) === 2L)
    assert(cm((1, 0)) === 1L) // the mislabeled vector is caught
    assert(!cm.contains((0, 1)))
  }

  test("recallAtK: per-query intersection over k, zero-hit queries kept") {
    import spark.implicits._
    val exact = Seq(
      (1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L), (3L, 31L)
    ).toDF("query_id", "neighbor_id")
    val approx = Seq(
      (1L, 10L), (1L, 11L), // both right
      (2L, 20L), (2L, 99L), // one right
      (3L, 98L), (3L, 99L)  // none right
    ).toDF("query_id", "neighbor_id")
    val out = Similarity.recallAtK(exact, approx, k = 2).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[Double]("recall"))).toMap
    assert(out === Map(1L -> ((2L, 1.0)), 2L -> ((1L, 0.5)), 3L -> ((0L, 0.0))))
  }

  test("IVF recall sweep: more probes never lose recall (the tuning loop)") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
    def meanRecall(nprobe: Int): Double = {
      val approx = Similarity.ivfTopK(emb, k = 5, nprobe = nprobe)
        .filter(col("query_id") < 10)
      Similarity.recallAtK(exact, approx, k = 5)
        .agg(avg("recall")).collect().head.getDouble(0)
    }
    val r2 = meanRecall(2)
    val r8 = meanRecall(8)
    assert(r2 > 0.0 && r2 <= 1.0, s"recall@5 nprobe=2 = $r2")
    // probing more cells only grows the candidate set → recall is monotone
    assert(r8 >= r2, s"nprobe=8 recall $r8 < nprobe=2 recall $r2")
    assert(r8 > 0.5, s"8 of 16 cells probed should recover most neighbours, got $r8")
  }

  test("multiProbeTopK: probes=1 is the plain one-table LSH; more probes only help") {
    val emb = Tables.embeddings(spark, sf0001).cache()
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // probes=1 probes only the base bucket — exactly lshTopK with one table
    val single = pairs(Similarity.multiProbeTopK(emb, k = 5, probes = 1))
    assert(single === pairs(Similarity.lshTopK(emb, k = 5, numTables = 1)))
    // flipping low-margin bits only ADDS candidates → recall vs brute
    // force is non-decreasing in probes
    val truth = Similarity.bruteForceTopK(emb, emb, k = 5)
      .select("query_id", "neighbor_id")
    def recall(probes: Int): Long = Similarity
      .multiProbeTopK(emb, k = 5, probes = probes)
      .select("query_id", "neighbor_id")
      .join(truth, Seq("query_id", "neighbor_id")).count()
    val rs = Seq(1, 3, 5).map(recall)
    assert(rs.zip(rs.tail).forall { case (a, b) => a <= b },
      s"recall hits must be non-decreasing in probes: $rs")
    assert(rs.last > rs.head,
      s"probing low-margin flips should recover extra true neighbors: $rs")
  }

  test("mmrSelect: diversity reorders a redundant result list") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),   // query
      (1L, Seq(0.9f, 0.1f)),   // best relevance
      (2L, Seq(0.9f, 0.11f)),  // near-duplicate of 1
      (3L, Seq(0.5f, -0.5f)),  // mid relevance, diverse
      (4L, Seq(0.0f, 1.0f)))   // low relevance, most diverse
      .toDF("vec_id", "embedding")
    // λ = 3/10 weights diversity: the orthogonal doc (max-sim 0.11) beats
    // the mid-relevance one (max-sim 0.62), and the near-dup of the first
    // pick drops last — hand-checked mmr values
    val picked = Similarity.mmrSelect(emb, queryId = 0L, k = 4, lamNum = 3)
      .orderBy("step").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(picked === Seq(1L, 4L, 3L, 2L))
    // pure relevance (λ = 1) is plain cosine order — the near-dup second
    val byRel = Similarity.mmrSelect(emb, queryId = 0L, k = 4, lamNum = 10)
      .orderBy("step").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(byRel === Seq(1L, 2L, 3L, 4L))
    // k beyond the candidate count returns everything, no crash
    val all = Similarity.mmrSelect(emb, queryId = 0L, k = 50, lamNum = 3)
      .collect()
    assert(all.length === 4)
    assert(all.map(_.getAs[Long]("doc_id")).toSet === Set(1L, 2L, 3L, 4L))
  }

  test("cosineThresholdSweep: complete partition of the subsample pair square") {
    import graft.ext.Dedup
    val emb = Tables.embeddings(spark, sf0001)
    val out = Similarity.cosineThresholdSweep(emb, pct = 50, bins = 20)
      .collect().sortBy(_.getAs[Long]("bin"))
    assert(out.map(_.getAs[Long]("bin")).toSeq === (0L until 20L))
    assert(out.head.getAs[Long]("thr_lo_fp") === -1048576L)
    assert(out(10).getAs[Long]("thr_lo_fp") === 0L)
    // every subsample pair lands in exactly one bin
    val nSub = emb.filter(
      pmod(Dedup.stableHash(col("vec_id").cast("string"), 7), lit(100L)) < 50).count()
    assert(out.map(_.getAs[Long]("n_pairs")).sum === nSub * (nSub - 1) / 2)
    assert(out.forall(r => r.getAs[Long]("n_docs") <= nSub))
    assert(out.map(_.getAs[Long]("n_pairs")).sum > 0L)
  }

  test("cosineThresholdSweep: zero-norm vectors are excluded, not silently lost to NaN bins") {
    import spark.implicits._
    // 4 unit-ish vectors + 1 zero vector, pct=100 so all are sampled
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 1.0f)), (4L, Array(-1.0f, 0.0f)),
      (5L, Array(0.0f, 0.0f))) // zero norm: cosine undefined
      .toDF("vec_id", "embedding")
    val out = Similarity.cosineThresholdSweep(emb, pct = 100, bins = 4).collect()
    // the pair square is over the 4 NONZERO vectors — complete, no NaN loss
    assert(out.map(_.getAs[Long]("n_pairs")).sum === 4L * 3 / 2)
    assert(out.forall(r => r.getAs[Long]("n_docs") <= 4L))
  }

  test("ivfOperatingCurve: recall and cost non-decreasing in nprobe; full probe is exact") {
    val emb = Tables.embeddings(spark, sf0001).cache()
    val out = Similarity.ivfOperatingCurve(
        emb, k = 5, nlist = 8, nprobes = Seq(1, 2, 4, 8), nQueries = 10)
      .collect().sortBy(_.getAs[Long]("nprobe"))
    assert(out.map(_.getAs[Long]("nprobe")).toSeq === Seq(1L, 2L, 4L, 8L))
    assert(out.forall(_.getAs[Long]("n_queries") === 10L))
    // more probes only grow the candidate set → recall AND cost are monotone
    val recalls = out.map(_.getAs[Long]("recall_fp"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall_fp must be non-decreasing in nprobe: ${recalls.toSeq}")
    val costs = out.map(_.getAs[Long]("n_candidates"))
    assert(costs.zip(costs.tail).forall { case (a, b) => a <= b },
      s"n_candidates must be non-decreasing in nprobe: ${costs.toSeq}")
    // probing every cell scores the whole corpus: recall@5 = 1 exactly and
    // the candidate count is the full brute-force space
    assert(recalls.last === 1048576L)
    val n = emb.count()
    assert(costs.last === 10L * (n - 1))
  }

  test("a zero vector is neither a query nor a neighbour in any search API") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 1), (3L, Seq(0.0f, 1.0f), 0),
      (4L, Seq(0.0f, 0.0f), 1), // zero norm
      (5L, Seq(-1.0f, 0.5f), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val nonZero = rows.filter(_._1 != 4L).toDF("vec_id", "embedding", "label")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val topKs = Map(
      "bruteForceTopK" -> Similarity.bruteForceTopK(emb, emb, k = 2),
      "ivfTrainedTopK" -> Similarity.ivfTrainedTopK(emb, 2, 2, 1, 1),
      "ivfTopK" -> Similarity.ivfTopK(emb, k = 2, nlist = 2, nprobe = 1),
      "lshTopK" -> Similarity.lshTopK(emb, k = 2, dim = 2, numPlanes = 2),
      "multiProbeTopK" -> Similarity.multiProbeTopK(emb, k = 2, dim = 2, numPlanes = 2, probes = 2),
      "hardNegatives" -> Similarity.hardNegatives(emb, k = 2, nlist = 2, nprobe = 2, iters = 1))
    topKs.foreach { case (api, df) =>
      val ps = pairs(df)
      assert(ps.nonEmpty, api)
      assert(ps.forall { case (q, n) => q != 4L && n != 4L }, s"$api: ${ps.toSeq}")
    }
    // the other queries rank exactly as on the corpus without the zero vector
    def ranked(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet
    assert(ranked(topKs("bruteForceTopK")) ===
      ranked(Similarity.bruteForceTopK(nonZero, nonZero, k = 2)))
    // the curve's queries are the four nonzero vectors, and probing every
    // cell still finds each one's exact top-k
    val curve = Similarity.ivfOperatingCurve(emb, k = 2, nlist = 2, nprobes = Seq(1, 2))
      .collect().sortBy(_.getAs[Long]("nprobe"))
    assert(curve.forall(_.getAs[Long]("n_queries") === 4L))
    assert(curve.last.getAs[Long]("recall_fp") === 1048576L)
    // MMR: a zero query selects nothing, and a zero candidate is never picked
    assert(Similarity.mmrSelect(emb, queryId = 4L, k = 2).collect().isEmpty)
    val picked = Similarity.mmrSelect(emb, queryId = 1L, k = 4)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(picked === Set(2L, 3L, 5L))
  }

  /** semanticDedup at tau 0.3 on the driver path (the sf0.001 corpus is
    * within the cutoff) and on the forced Spark plan.
    */
  private def semanticDedupBothPaths(emb: org.apache.spark.sql.DataFrame) =
    Seq(Similarity.DriverMaxVectors, -1).map(cutoff =>
      Similarity.semanticDedup(emb, 0.3, 8, 2, "vec_id", "embedding", 4096, cutoff))

  test("semanticDedup: one row per vector, cell-contained clusters, min-id canonical") {
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count()
    semanticDedupBothPaths(emb).foreach { df =>
      val out = df.collect()
      assert(out.length === n)
      // canonical = component min, and exactly the keepers carry their own id
      val byCluster = out.groupBy(_.getAs[Long]("cluster_id"))
      byCluster.foreach { case (cid, members) =>
        assert(members.map(_.getAs[Long]("vec_id")).min === cid)
        assert(members.count(_.getAs[Boolean]("keep")) === 1)
        assert(members.find(_.getAs[Boolean]("keep")).get.getAs[Long]("vec_id") === cid)
        // edges are intra-cell only, so every cluster lives in one cell
        assert(members.map(_.getAs[Int]("cell")).toSet.size === 1)
      }
    }
  }

  test("semanticDedup clusters cover every same-cell pair above tau") {
    val emb = Tables.embeddings(spark, sf0001)
    semanticDedupBothPaths(emb).foreach { out =>
      val cells = out.select(col("vec_id"), col("cell"), col("cluster_id"))
      val pairs = Similarity.cosinePairsAbove(emb, 0.3)
        .join(cells.select(col("vec_id").as("id_a"), col("cell").as("cell_a"),
          col("cluster_id").as("cl_a")), Seq("id_a"))
        .join(cells.select(col("vec_id").as("id_b"), col("cell").as("cell_b"),
          col("cluster_id").as("cl_b")), Seq("id_b"))
        .filter(col("cell_a") === col("cell_b"))
        .collect()
      assert(pairs.nonEmpty, "expected at least one same-cell pair above tau at sf0.001")
      pairs.foreach { r =>
        assert(r.getAs[Long]("cl_a") === r.getAs[Long]("cl_b"),
          s"same-cell pair above tau split across clusters: $r")
      }
    }
  }

  test("semanticDedup: the sf0.001 embeddings take one job, and filtering and collecting the result none") {
    val emb = Tables.embeddings(spark, sf0001)
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = startedBy { out = Similarity.semanticDedup(emb, tau = 0.3) }.filter(_._1 == "job")
    assert(jobs.length <= 1, jobs.mkString("\n"))
    var dropped = Array.empty[org.apache.spark.sql.Row]
    val resultJobs = startedBy {
      dropped = out.filter(!col("keep")).select("vec_id").collect()
    }.filter(_._1 == "job")
    assert(resultJobs.isEmpty, resultJobs.mkString("\n"))
    assert(dropped.nonEmpty)
  }

  test("semanticDedup: the driver path equals the Spark plan on random corpora") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import scala.jdk.CollectionConverters._
    type Vec = Option[Seq[Option[Float]]]
    // vectors at cosine ≈ tau + off from (1, 0, …), each off along another
    // axis so that only the rounded cosine links them: off −5e-5 is the
    // 4-decimal rounding boundary
    def atCosine(t: Double, axis: Int, dim: Int) = Seq.tabulate(dim)(d =>
      if (d == 0) t.toFloat else if (d == axis) math.sqrt(1 - t * t).toFloat else 0f)
    def nearTau(tau: Double, dim: Int) = for {
      off <- Gen.oneOf(-1e-4, -5.1e-5, -5e-5, -4.9e-5, 0.0)
      axis <- Gen.choose(1, dim - 1)
    } yield atCosine(tau + off, axis, dim)
    def vectors(n: Int, dim: Int, tau: Double, ragged: Boolean): Gen[Seq[Seq[Float]]] = {
      val random = Gen.choose(if (ragged) math.max(1, dim - 2) else dim, dim)
        .flatMap(Gen.listOfN(_, Gen.choose(-1f, 1f)))
      Gen.listOfN(n, Gen.frequency(6 -> random, 3 -> nearTau(tau, dim))).flatMap { vs =>
        // the reference vector of the near-tau ones, and copies (cosine 1)
        Gen.listOfN(n / 4, Gen.oneOf(vs)).map(copies =>
          (Seq(1f) ++ Seq.fill(dim - 1)(0f)) +: (vs ++ copies))
      }
    }
    // one input the driver path leaves to the Spark plan, or none
    val faults = Seq("none", "null id", "null vector", "null element", "zero vector", "duplicate id")
    def corpus(ragged: Boolean) = for {
      tau <- Gen.oneOf(0.3, 0.5, 0.95)
      n <- Gen.choose(1, 20)
      dim <- Gen.choose(2, 5)
      vs <- vectors(n, dim, tau, ragged)
      ids <- Gen.pick(vs.length, 0L until 1000L).map(_.toSeq)
      nlist <- Gen.frequency(2 -> Gen.const(1), 3 -> Gen.choose(2, 8),
        1 -> Gen.const(vs.length + 2))
      iters <- Gen.choose(0, 2)
      intIds <- Gen.oneOf(false, true)
      nullable <- Gen.oneOf(false, true)
      at <- Gen.choose(0, vs.length - 1)
    } yield (fault: String) => {
      val rows: Seq[(Option[Long], Vec)] =
        ids.map(Option(_)).zip(vs.map(v => Option(v.map(Option(_)))))
      val faulted = rows.updated(at, fault match {
        case "null id" => (None, rows(at)._2)
        case "null vector" => (rows(at)._1, None)
        case "null element" => (rows(at)._1, rows(at)._2.map(_.updated(0, None)))
        case "zero vector" => (rows(at)._1, rows(at)._2.map(_.map(_ => Some(0f))))
        case "duplicate id" => (rows((at + 1) % rows.length)._1, rows(at)._2)
        case _ => rows(at)
      })
      (faulted, tau, nlist, iters, intIds, nullable || fault == "null id", fault)
    }
    def outcome(df: => org.apache.spark.sql.DataFrame) =
      scala.util.Try { val d = df; (d.schema, d.collect().map(_.toString).sorted.toSeq) }
        .toEither.left.map(_.getClass.getName)
    // every other corpus is clean, the rest cycle through the faults, and
    // every third has vectors of mixed lengths
    val random = (0 until 24).map { i =>
      corpus(ragged = i % 3 == 0).apply(Gen.Parameters.default, Seed(i.toLong)).get
        .apply(if (i % 2 == 0) "none" else faults(1 + i / 2 % (faults.length - 1)))
    }
    // and one where only the rounding links 1 to 0 and keeps 2 apart
    val boundaryRows = Seq(
        0L -> atCosine(1.0, 1, 3), 1L -> atCosine(0.3 - 4.9e-5, 1, 3),
        2L -> atCosine(0.3 - 5.1e-5, 2, 3))
      .map { case (id, v) => (Option(id), Option(v.map(Option(_)))) }
    val boundary = (boundaryRows, 0.3, 1, 0, false, false, "none")
    def frame(rows: Seq[(Option[Long], Vec)], intIds: Boolean, nullable: Boolean) =
      spark.createDataFrame(rows.map { case (id, v) =>
        Row(id.map[Any](x => if (intIds) x.toInt else x).orNull,
          v.map(_.map(_.map(Float.box).orNull)).orNull)
      }.asJava, StructType(Seq(
        StructField("vid", if (intIds) IntegerType else LongType, nullable),
        StructField("emb", ArrayType(FloatType, containsNull = true)))))
    (random :+ boundary).zipWithIndex.foreach {
        case ((rows, tau, nlist, iters, intIds, nullable, fault), i) =>
      val df = frame(rows, intIds, nullable)
      def run(cutoff: Int) = outcome(
        Similarity.semanticDedup(df, tau, nlist, iters, "vid", "emb", 4096, cutoff))
      val case_ = s"corpus $i ($fault, tau $tau, nlist $nlist, iters $iters): $rows"
      var local: Either[String, (StructType, Seq[String])] = null
      val jobs = startedBy { local = run(Similarity.DriverMaxVectors) }.count(_._1 == "job")
      assert(local === run(-1), case_)
      // a null or zero vector is left unassigned, never taken as a
      // centroid, and vectors of mixed lengths train like any others
      val ragged = rows.flatMap(_._2).map(_.length).distinct.size > 1
      if (ragged || fault == "null vector" || fault == "zero vector")
        assert(local.isRight, s"$local, $case_")
      // a clean corpus stays on the driver; every fault falls back
      if (local.isRight) assert((jobs <= 1) === (fault == "none"), s"$jobs jobs, $case_")
    }
    val clusters = Similarity.semanticDedup(frame(boundaryRows, false, false), 0.3, 1, 0, "vid", "emb")
    assert(clusters.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap ===
      Map(0L -> 0L, 1L -> 0L, 2L -> 2L))
  }

  test("hardNegatives: labels always differ, no self, ranks contiguous per query") {
    val emb = Tables.embeddings(spark, sf0001)
    val out = Similarity.hardNegatives(emb, k = 3).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Int]("query_label") !== r.getAs[Int]("neighbor_label"))
      assert(r.getAs[Long]("query_id") !== r.getAs[Long]("neighbor_id"))
    }
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val ranks = rows.map(_.getAs[Int]("rank")).sorted
      assert(ranks.head === 1 && ranks === (1 to ranks.length).toList.sorted)
      assert(ranks.length <= 3)
      // ranks follow cosine descending
      val byRank = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(byRank === byRank.sorted.reverse)
    }
  }

  test("diverseSelect: per-cell cap holds, ranks contiguous, uncapped run covers corpus") {
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count()
    // cap far above corpus size ⇒ every vector selected exactly once
    val all = Similarity.diverseSelect(emb, perCell = 10000)
    assert(all.count() === n)
    assert(all.select("vec_id").distinct().count() === n)
    val capped = Similarity.diverseSelect(emb, perCell = 2).collect()
    capped.groupBy(_.getAs[Long]("cell")).values.foreach { rows =>
      assert(rows.length <= 2)
      assert(rows.map(_.getAs[Long]("rank")).sorted === (1L to rows.length).toList)
    }
    // the capped selection spans every populated cell of the full assignment
    val allCells = all.select("cell").distinct().collect().map(_.getLong(0)).toSet
    assert(capped.map(_.getAs[Long]("cell")).toSet === allCells,
      "every populated cell contributes to the diverse selection")
  }

  test("jlProject: deterministic signs, exact fp dots, sign flip negates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 4-dim vectors, 2 output dims — hand-check against jlSigns
    val signs = Similarity.jlSigns(11, 4, 2)
    val v = Seq(1.0f, 2.0f, -3.0f, 0.5f)
    val corpus = Seq((1L, v), (2L, v.map(x => -x)))
      .toDF("vec_id", "embedding")
    val out = Similarity.jlProject(corpus, outDim = 2, inDim = 4, seed = 11)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dim")) -> r.getAs[Long]("proj_fp"))
      .toMap
    (0 until 2).foreach { j =>
      var dot = 0.0
      v.indices.foreach(i => dot += v(i).toDouble * signs(j)(i))
      assert(out((1L, j.toLong)) === math.floor(dot * 1048576.0).toLong)
      assert(out((2L, j.toLong)) === math.floor(-dot * 1048576.0).toLong)
    }
    // signs are ±1 only and deterministic across calls
    assert(signs.flatten.forall(s => s == 1.0 || s == -1.0))
    assert(signs === Similarity.jlSigns(11, 4, 2))
    assert(signs !== Similarity.jlSigns(12, 4, 2), "seed changes the matrix")
  }

  test("ivfOccupancy: shares sum to ~1, counts cover the corpus, cells match assignment") {
    val emb = Tables.embeddings(spark, sf0001)
    val out = Similarity.ivfOccupancy(emb).collect()
    assert(out.map(_.getAs[Long]("n_vecs")).sum === emb.count())
    val shareSum = out.map(_.getAs[Long]("share_fp")).sum
    // floors can undershoot by at most one per cell
    assert(shareSum <= 1048576L && shareSum > 1048576L - out.length)
    // occupancy cells agree with the silhouette report's partition
    val silCells = Similarity.silhouetteReport(emb).collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n")).toMap
    out.foreach { r =>
      assert(silCells(r.getAs[Long]("cell")) === r.getAs[Long]("n_vecs"))
    }
  }

  test("silhouetteReport: cells partition the corpus; sil bounded; tight cells score high") {
    val emb = Tables.embeddings(spark, sf0001)
    val rep = Similarity.silhouetteReport(emb).collect()
    // every vector lands in exactly one cell
    assert(rep.map(_.getAs[Long]("n")).sum === emb.count())
    rep.foreach { r =>
      val mean = r.getAs[Long]("mean_sil_fp")
      val min = r.getAs[Long]("min_sil_fp")
      val n = r.getAs[Long]("n")
      val nLow = r.getAs[Long]("n_low")
      // centroid-form silhouette is within [0, 1] in fixed point
      assert(min >= 0L && mean <= 1048576L, s"sil out of range: $r")
      assert(min <= mean)
      assert(nLow >= 0L && nLow <= n)
    }
  }

  /** Ten rows, five distinct vectors each twice: three of length 3 (one
    * with a null element), two of length 2 that point away from them.
    * Sampling six cells from five distinct vectors puts two copies of one
    * vector in the sample, so a cell stays empty.
    */
  private def centroidFixture = {
    import spark.implicits._
    val vecs = Seq(
      Seq(Some(0.1f), Some(0.2f), Some(0.9f)),
      Seq(Some(0.3f), Some(-0.1f), Some(0.8f)),
      Seq(Some(0.2f), None, Some(0.9f)),
      Seq(Some(0.9f), Some(-0.3f)),
      Seq(Some(-0.7f), Some(0.6f)))
    val df = (vecs ++ vecs).zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    df.select(col("id"), col("vec"),
      sqrt(graft.functions.VectorFunctions.dotNative(col("vec"), col("vec"))).as("nrm"))
  }

  /** The Lloyd round trainCentroids ran before it became one shuffle-free
    * job (posexplode, groupBy(cell, pos), collect), kept as the reference
    * its centroids must equal bit for bit. Also returns how many times a
    * cell was empty.
    */
  private def groupByCentroids(prep: org.apache.spark.sql.DataFrame, nlist: Int, iters: Int)
      : (IndexedSeq[(IndexedSeq[Double], Double)], Int) = {
    var cents = Similarity.sampleCentroids(prep, nlist)
    var emptyCells = 0
    for (_ <- 1 to iters) {
      val assigned = Similarity.withCellScores(prep, cents)
        .withColumn("cell",
          (array_position(col("scores"), array_max(col("scores"))) - 1).cast("int"))
      val sums = assigned
        .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(
          sum(floor(col("v").cast("double") * lit(1048576.0)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getAs[Int]("cell"))
      cents = cents.zipWithIndex.map { case ((prev, prevNrm), c) =>
        byCell.get(c) match {
          case Some(rows) =>
            val next = prev.toArray.clone()
            rows.foreach { r =>
              next(r.getAs[Int]("pos")) =
                r.getAs[Long]("s").toDouble / r.getAs[Long]("n") / 1048576.0
            }
            (next.toIndexedSeq, Similarity.foldNorm(next.toIndexedSeq))
          case None => emptyCells += 1; (prev, prevNrm)
        }
      }
    }
    (cents, emptyCells)
  }

  test("trainCentroids: bit-identical to the groupBy round with an empty cell, mixed lengths and a null element") {
    val prep = centroidFixture
    val (reference, emptyCells) = groupByCentroids(prep, nlist = 6, iters = 3)
    assert(emptyCells > 0)
    assert(Similarity.trainCentroids(prep, nlist = 6, iters = 3) === reference)
    // and on the sf0.001 embeddings, the shape every IVF consumer trains on
    val emb = Tables.embeddings(spark, sf0001)
    val embPrep = emb.select(col("vec_id").as("id"), col("embedding").as("vec"),
      sqrt(graft.functions.VectorFunctions.dotNative(col("embedding"), col("embedding"))).as("nrm"))
    assert(Similarity.trainCentroids(embPrep, 8, 2) === groupByCentroids(embPrep, 8, 2)._1)
  }

  test("trainCentroids: one sample job, then one job per Lloyd round") {
    val prep = centroidFixture
    val jobs = startedBy(Similarity.trainCentroids(prep, nlist = 6, iters = 3)).filter(_._1 == "job")
    assert(jobs.length === 1 + 3, jobs.mkString("\n"))
  }
}
