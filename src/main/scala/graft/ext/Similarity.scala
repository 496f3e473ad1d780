package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.DotProduct

import scala.jdk.CollectionConverters._

/** Similarity search over embedding columns (north-star extension):
  * brute-force cosine top-k as the exact baseline, and an LSH-bucketed
  * (random-hyperplane sign) variant as the 100 TB scale path.
  *
  * Vectors are `Array[Float]` columns; all arithmetic is promoted to double
  * inside `aggregate`/`zip_with` (codegen'd higher-order functions — no UDF,
  * no serialization off the Tungsten format).
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double with a
    * fixed left-to-right fold (deterministic, engine-portable).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Project (id, vector, norm) once per row, so the pairwise stage does ONE
    * native dot product per pair instead of recomputing casts and norms —
    * the quadratic inner loop is a codegen'd primitive loop
    * (graft.functions.DotProduct), no per-pair allocation. The cosine value
    * (dot / (normA·normB)) is bit-identical to the higher-order
    * formulation: same element order, same double accumulation.
    */
  private def prepared(df: DataFrame, idCol: String, vecCol: String,
      idAlias: String, vecAlias: String, nrmAlias: String): DataFrame = {
    df.select(col(idCol).as(idAlias), col(vecCol).as(vecAlias))
      .withColumn(nrmAlias,
        sqrt(graft.functions.VectorFunctions.dotNative(col(vecAlias), col(vecAlias))))
  }

  /** Cosine from precomputed norms: one native dot over the norm product.
    * A zero norm on either side scores null, as a null vector does — the
    * quotient would otherwise raise DIVIDE_BY_ZERO under ANSI mode. Every
    * ranking drops null scores, so a zero or null query has no neighbours
    * and a zero-norm vector is never a neighbour.
    */
  private def guardedCosine(a: Column, aNrm: Column, b: Column, bNrm: Column): Column =
    try_divide(graft.functions.VectorFunctions.dotNative(a, b), aNrm * bNrm)

  private def qcCosine: Column =
    guardedCosine(col("q_vec"), col("q_nrm"), col("c_vec"), col("c_nrm"))

  /** Each query's top-k rows of `scored` by score, ties to the lower
    * neighbor id, null scores dropped. Nulls sort last, so dropping them
    * after the ranking leaves every other row's rank as it would be without
    * them; a filter below the window would be pushed into the pair join's
    * condition and compute each pair's dot product twice.
    */
  private def topKPerQuery(scored: DataFrame, k: Int, score: String = "cosine"): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col(score).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k && col(score).isNotNull)
  }

  /** Exact brute-force top-k neighbours for each query vector.
    *
    * The query side is expected to be small (a probe set) and is broadcast;
    * the corpus streams through one stage: |corpus| × |queries| dot products,
    * map-side only, then a per-query top-k window on the (tiny) scored set.
    * For corpus-×-corpus all-pairs at scale, use [[lshTopK]].
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(prepared(queries, idCol, vecCol, "query_id", "q_vec", "q_nrm"))
    val c = prepared(corpus, idCol, vecCol, "neighbor_id", "c_vec", "c_nrm")
      .repartition(col("neighbor_id")) // spread the stream side across cores
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"), qcCosine.as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Random-hyperplane LSH bucket key: the sign pattern of `numPlanes`
    * pseudo-random hyperplane projections. Hyperplane components are derived
    * deterministically from (plane, dim) stable hashes — no stored model,
    * reproducible across runs and engines. Each projection is ONE native dot
    * product against a literal weight array (a tight codegen'd loop), not a
    * dim-term expression tree.
    */
  /** Deterministic hyperplane components for plane `seed`: w(d) in
    * [-0.5, 0.5) from stable string hashes — no stored model, reproducible
    * across runs AND engines (the q40 oracle re-derives the same literals).
    */
  def planeWeights(seed: Int, dim: Int): Seq[Double] =
    (0 until dim).map { d =>
      (math.abs(scala.util.hashing.MurmurHash3.stringHash(s"$seed#$d")) % 1000) / 1000.0 - 0.5
    }

  def hyperplaneSignature(
      vec: Column, dim: Int, numPlanes: Int = 8, seed: Int = 0): Column = {
    val signs = (0 until numPlanes).map { p =>
      val proj =
        graft.functions.VectorFunctions.dotNative(vec, typedlit(planeWeights(seed + p, dim)))
      when(proj >= 0, lit(1)).otherwise(lit(0)).cast("string")
    }
    concat(signs: _*)
  }

  /** Approximate top-k: bucket by hyperplane signature, brute-force within
    * buckets only. Multi-probe via `numTables` independent sign families
    * raises recall; each table is a shuffle on its (short string) key.
    */
  def lshTopK(
      corpus: DataFrame,
      k: Int = 5,
      dim: Int = 64,
      numPlanes: Int = 8,
      numTables: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // Norms once per row BEFORE bucketing/joining: the per-pair work inside a
    // bucket is then a single codegen'd native dot product, not three
    // higher-order-function array folds.
    val prep = prepared(corpus, idCol, vecCol, "id", "vec", "nrm")
    val tables = (0 until numTables).map { t =>
      val sig = hyperplaneSignature(col("vec"), dim, numPlanes, seed = t * 1000)
      prep.select(lit(t).as("tbl"), sig.as("bucket"), col("id"), col("vec"), col("nrm"))
    }
    val bucketed = tables.reduce(_ unionByName _)
    val a = bucketed.select(col("tbl"), col("bucket"),
      col("id").as("query_id"), col("vec").as("q_vec"), col("nrm").as("q_nrm"))
    val b = bucketed.select(col("tbl"), col("bucket"),
      col("id").as("neighbor_id"), col("vec").as("c_vec"), col("nrm").as("c_nrm"))
    val scored = a.join(b, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"), qcCosine.as("cosine"))
      .groupBy("query_id", "neighbor_id").agg(max("cosine").as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Multi-probe hyperplane-LSH top-k: ONE table, but each query also
    * probes the buckets reached by flipping its lowest-|margin| sign bits
    * — the planes whose projection sits nearest zero are exactly the bits
    * a true neighbor most plausibly differs on. Recall comparable to
    * extra independent tables at a FRACTION of the memory/shuffle:
    * [[lshTopK]]'s numTables multiplies the stored/bucketed corpus, while
    * multi-probe multiplies only the probe (query-side) rows — the
    * standard memory-lean LSH scale path (multi-probe LSH).
    *
    * Determinism: probe order ranks planes by (|projection| asc, plane
    * asc); projections are native dots against the same derived literal
    * hyperplanes as [[lshTopK]] table 0, so an oracle re-derives every
    * bucket and flip exactly.
    *
    * Scale: corpus rows carry ONE bucket each; probe rows ≤ `probes` per
    * query; the join shuffles on the short sign-string key; per-pair work
    * is one codegen'd dot. The plane-ranking window partitions by vector
    * over numPlanes rows each — map-scale, no global sort.
    */
  def multiProbeTopK(
      corpus: DataFrame,
      k: Int = 5,
      dim: Int = 64,
      numPlanes: Int = 8,
      probes: Int = 3,
      seed: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(probes >= 1 && probes <= numPlanes + 1,
      s"probes must be in [1, numPlanes + 1], got $probes")
    val prep = prepared(corpus, idCol, vecCol, "id", "vec", "nrm")
      .withColumn("dl", array((0 until numPlanes).map { p =>
        graft.functions.VectorFunctions.dotNative(col("vec"), typedlit(planeWeights(seed + p, dim)))
      }: _*))
      .withColumn("bucket", concat((0 until numPlanes).map { p =>
        when(element_at(col("dl"), p + 1) >= 0, lit("1")).otherwise(lit("0"))
      }: _*))
    val corpusSide = prep.select(
      col("bucket"), col("id").as("neighbor_id"),
      col("vec").as("c_vec"), col("nrm").as("c_nrm"))
    // probe buckets: the base signature plus the (probes-1) single-bit
    // flips at the lowest-margin planes
    val planeRows = prep
      .select(col("id"), col("bucket"), col("vec"), col("nrm"),
        posexplode(col("dl")).as(Seq("p", "d")))
      .withColumn("r", row_number().over(
        Window.partitionBy("id").orderBy(abs(col("d")).asc, col("p").asc)))
      .filter(col("r") < probes)
      .select(col("id"), col("vec"), col("nrm"),
        concat(
          expr("substring(bucket, 1, p)"),
          when(expr("substring(bucket, p + 1, 1)") === "1", lit("0"))
            .otherwise(lit("1")),
          expr("substring(bucket, p + 2)")).as("bucket"))
    val probeSide = prep.select(col("id"), col("vec"), col("nrm"), col("bucket"))
      .unionByName(planeRows)
      .select(col("bucket"), col("id").as("query_id"),
        col("vec").as("q_vec"), col("nrm").as("q_nrm"))
    val scored = probeSide.join(corpusSide, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"), qcCosine.as("cosine"))
      .groupBy("query_id", "neighbor_id").agg(max("cosine").as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Cosine threshold sweep (E188): pair counts and touched-doc counts per
    * cosine bin over a HASH-GATED subsample — the embedding-space analog
    * of the Jaccard threshold sweep (FuzzyJoin.thresholdSensitivity), the
    * evidence behind a semantic-dedup τ. LSH candidates can't serve here
    * (their set is recall-shaped by the planes, exactly what a sweep must
    * not depend on), so the sweep brute-forces all pairs WITHIN the
    * deterministic stableHash subsample: exact at its sample size, never
    * materializing the full corpus pair square. Bins cover [-1, 1];
    * thr_lo_fp is the bin's lower edge in 2²⁰ fixed point.
    *
    * Scale: subsample pairs are (pct·N/100)² — pick pct for the planning
    * budget (the default 20% is 4% of the full pair square). The pair join
    * broadcasts the (sampled) side; counts are one endpoint-exploded
    * aggregation keyed by bin.
    */
  def cosineThresholdSweep(
      corpus: DataFrame,
      pct: Int = 20,
      bins: Int = 20,
      seed: Int = 7,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(pct > 0 && pct <= 100, "pct must be in (0, 100]")
    require(bins > 0 && bins % 2 == 0, "bins must be positive and even")
    val spark = corpus.sparkSession
    val sub = corpus.filter(
      pmod(Dedup.stableHash(col(idCol), seed), lit(100L)) < pct)
    // Zero-norm vectors are EXCLUDED explicitly: their cosine is NaN, and
    // floor(NaN) would bin to null — pairs silently vanishing from every
    // bin, breaking the "bins partition the subsample pair square"
    // invariant the spec asserts. A documented precondition beats silent
    // row loss.
    val a = prepared(sub, idCol, vecCol, "id_a", "a_vec", "a_nrm")
      .filter(col("a_nrm") > 0.0)
    val b = prepared(sub, idCol, vecCol, "id_b", "b_vec", "b_nrm")
      .filter(col("b_nrm") > 0.0)
    val half = bins / 2.0 // exact double for even bins
    val binCol = least(greatest(
        floor((col("cos") + lit(1.0)) * lit(half)).cast("long"), lit(0L)),
      lit(bins - 1L))
    val counts = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (graft.functions.VectorFunctions.dotNative(col("a_vec"), col("b_vec")) /
          (col("a_nrm") * col("b_nrm"))).as("cos"))
      .select(binCol.as("bin"), explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy("bin")
      .agg(shiftright(count(lit(1)), 1).as("n_pairs"),
        countDistinct(col("id")).as("n_docs"))
    import spark.implicits._
    (0L until bins.toLong).toDF("bin")
      .join(counts, Seq("bin"), "left")
      .select(
        col("bin"),
        (ExactMath.floorDiv(col("bin") * lit(2L * 1048576L), lit(bins.toLong)) -
          lit(1048576L)).cast("long").as("thr_lo_fp"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Maximal-marginal-relevance selection (E194): greedy diverse top-k —
    * each step picks the candidate maximizing
    * mmr = lamNum·rel − (lamDen−lamNum)·maxSimToSelected
    * (the λ = lamNum/lamDen MMR objective scaled by lamDen, so the
    * coefficients stay EXACT double literals — `1 − 0.7` is not 0.3 in
    * IEEE754, an integer rational is the same number in every engine).
    * rel = cosine to the query vector; maxSim = max cosine to the already
    * selected set. The result-list dedup for retrieval: near-identical
    * hits stop crowding out coverage.
    *
    * Scale: the selected set is driver-scale by definition (k rows), so
    * each step is ONE distributed argmax over the corpus — candidates
    * score against ≤ k literal vectors (codegen'd dots), a TakeOrdered(1)
    * reduces, and k total passes run over the PERSISTED candidate frame:
    * one scan + normalization, then k cached passes (not k scans).
    * [[diverseSelect]] is the one-pass clustered alternative when k is
    * large.
    */
  /** The candidate frame every [[mmrSelect]] argmax round scores:
    * normalized corpus minus the query row, with the query-relevance dot
    * attached. Package-private so the plan spec can prove a persisted
    * instance serves later rounds from the cached relation, not the scan.
    */
  private[graft] def mmrCandidateFrame(
      corpus: DataFrame, queryId: Long,
      idCol: String, vecCol: String): DataFrame = {
    val prep = prepared(corpus, idCol, vecCol, "id", "vec", "nrm")
    val qRow = prep.filter(col("id") === queryId)
      .select(col("vec"), col("nrm")).collect()
      .headOption.getOrElse(throw new IllegalArgumentException(
        s"query id $queryId not found"))
    val qv = qRow.getSeq[Float](0).map(_.toDouble).toIndexedSeq
    val qn = qRow.getDouble(1)
    prep.filter(col("id") =!= queryId)
      .withColumn("rel", guardedCosine(col("vec"), col("nrm"), typedlit(qv), lit(qn)))
      .filter(col("rel").isNotNull)
  }

  def mmrSelect(
      corpus: DataFrame,
      queryId: Long = 0L,
      k: Int = 5,
      lamNum: Int = 7,
      lamDen: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && lamDen > 0 && lamNum >= 0 && lamNum <= lamDen,
      "need k >= 1 and 0 <= lamNum/lamDen <= 1")
    val spark = corpus.sparkSession
    val cand = mmrCandidateFrame(corpus, queryId, idCol, vecCol)
      // greedy MMR is inherently k sequential argmax jobs over the same
      // candidate frame: persist it so round 2..k read the cached
      // (id, vec, nrm, rel) relation instead of re-running the scan +
      // normalization + relevance pipeline — at 100 TB that is one scan +
      // k cached passes, not k scans
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lamBar = lamDen - lamNum
    var selected = Vector.empty[(Long, IndexedSeq[Double], Double, Double, Double)]
    var exhausted = false
    try for (_ <- 1 to k if !exhausted) {
      val ms =
        if (selected.isEmpty) lit(0.0)
        else selected.map { case (_, sv, sn, _, _) =>
          guardedCosine(col("vec"), col("nrm"), typedlit(sv), lit(sn))
        }.reduce((a, b) => greatest(a, b))
      cand
        .filter(!col("id").isInCollection(selected.map(_._1)))
        .withColumn("mmr",
          lit(lamNum.toDouble) * col("rel") - lit(lamBar.toDouble) * ms)
        .orderBy(col("mmr").desc, col("id").asc).limit(1)
        .select(col("id"), col("vec"), col("nrm"), col("rel"), col("mmr"))
        .collect().headOption match {
        case Some(step) =>
          selected :+= ((step.getLong(0),
            step.getSeq[Float](1).map(_.toDouble).toIndexedSeq,
            step.getDouble(2), step.getDouble(3), step.getDouble(4)))
        case None => exhausted = true // fewer candidates than k: return them all
      }
    } finally cand.unpersist(false)
    import spark.implicits._
    selected.zipWithIndex.map { case ((id, _, _, rel, mmr), i) =>
      (i + 1L, id, rel, mmr)
    }.toDF("step", "doc_id", "rel", "mmr")
      // same ROUND both engines (q40 precedent) — display-only
      .select(col("step"), col("doc_id"),
        round(col("rel"), 4).as("rel"), round(col("mmr"), 4).as("mmr"))
  }

  /** IVF (inverted-file) approximate top-k — the other standard ANN scale
    * path next to [[lshTopK]].
    *
    * Coarse quantizer: `nlist` centroids chosen deterministically as the
    * corpus vectors with the smallest md5(id) (a uniform pseudo-random
    * sample with no training iterations — reproducible across runs, no
    * stored model). Every corpus vector is assigned to its nearest centroid
    * (one shuffle keyed by cell); every query probes its `nprobe` nearest
    * cells, so the pairwise work is |corpus|/nlist × nprobe per query
    * instead of |corpus| — the inverted-file contract. All centroid
    * projections are native dot products against literal arrays.
    *
    * At 100 TB: centroids are a driver-side constant (nlist × dim floats),
    * the assignment pass is map-side only, and the probe join shuffles on
    * the short cell id — no all-pairs stage ever materializes.
    */
  def ivfTopK(
      corpus: DataFrame,
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val prep = prepared(corpus, idCol, vecCol, "id", "vec", "nrm")
    ivfSearch(prep, sampleCentroids(prep, nlist), k, nprobe)
  }

  /** K-means-trained IVF: the sampled quantizer refined by `iters` Lloyd
    * iterations before the same assign/probe/search as [[ivfTopK]]. Trained
    * centroids cut the variance of cell sizes, so probe cost is more even
    * and recall at fixed nprobe improves over the raw sample.
    *
    * The training loop is the distributed k-means shape for 100 TB: per
    * iteration ONE job with no shuffle — a map-side assignment pass (dots
    * against literal centroids) whose partitions each return nlist × dim
    * integer sums and counts, added on the driver. Centroids live on the
    * driver between iterations (nlist × dim doubles — the k-means model is
    * driver-scale by definition).
    *
    * Determinism/portability: element sums are computed on floor(x·2²⁰)
    * integers — float→double is exact, scaling by a power of two is exact,
    * floor is engine-deterministic — so the sum is an exact integer
    * regardless of row order, and mean = (sum→double)/n/2²⁰ reproduces
    * bit-for-bit in the DuckDB oracle. (Exactness needs |sum| < 2⁵³:
    * holds through ~10⁹ rows per cell-element; beyond that the mean is
    * still correct to double precision, just not oracle-exact.) Cells left
    * empty by an iteration keep their previous centroid (the standard
    * Lloyd fallback).
    */
  def ivfTrainedTopK(
      corpus: DataFrame,
      k: Int = 5,
      nlist: Int = 8,
      nprobe: Int = 2,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val prep = prepared(corpus, idCol, vecCol, "id", "vec", "nrm")
    ivfSearch(prep, trainCentroids(prep, nlist, iters), k, nprobe)
  }

  /** Lloyd's iterations over a `prepared` frame, returning the trained
    * (centroid, norm) quantizer. Each round is ONE job with no shuffle: the
    * argmax assignment runs map-side, each partition sums floor(x·2²⁰) as
    * `Long` into per-cell, per-position sum and count arrays (nlist×dim),
    * and the driver adds the partitions' arrays — the way Spark ML's KMeans
    * aggregates its sums. Integer sums do not depend on order, so the means
    * are exact across engines and partitionings. A cell no vector reaches
    * keeps its previous centroid; a position's count is the number of the
    * cell's vectors that have it (vectors may differ in length), and a null
    * element counts without adding to the sum. Shared by
    * [[ivfTrainedTopK]], [[semanticDedup]] and the other IVF quantizers.
    */
  private[graft] def trainCentroids(
      prep: DataFrame, nlist: Int, iters: Int): IndexedSeq[(IndexedSeq[Double], Double)] = {
    // the training loop is `iters`+1 eager passes (sample + one job
    // per Lloyd round) over the SAME normalized frame — cache it for the
    // duration of training (guide §5: reuse × recompute cost), and
    // unpersist before returning so no CacheManager entry outlives the
    // call (a leaked entry would alias identical plans across queries —
    // cross-query result reuse the bench must never see). Fault-tolerant
    // (MEMORY_AND_DISK recomputes from lineage on executor loss), unlike
    // an executor-local checkpoint.
    val cached = prep.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try trainCentroidsOn(cached, nlist, iters)
    finally cached.unpersist(false)
  }

  private def trainCentroidsOn(
      prep: DataFrame, nlist: Int, iters: Int): IndexedSeq[(IndexedSeq[Double], Double)] = {
    var cents = sampleCentroids(prep, nlist)
    for (_ <- 1 to iters) {
      val nCells = cents.length
      val (sums, counts) = withCellScores(prep, cents)
        .select(
          (array_position(col("scores"), array_max(col("scores"))) - 1).cast("int").as("cell"),
          col("vec").cast("array<double>"))
        .queryExecution.toRdd
        .mapPartitions(rows => Iterator(cellSums(rows, nCells)))
        .collect()
        .reduce(addCellSums)
      cents = lloydUpdate(cents, sums, counts)
    }
    cents
  }

  /** One Lloyd update from the round's per-cell, per-position sums of
    * floor(x·2²⁰) and element counts: each position's mean is
    * (sum→double)/count/2²⁰, and its norm is [[foldNorm]]'s.
    */
  private def lloydUpdate(
      cents: IndexedSeq[(IndexedSeq[Double], Double)], sums: Array[Array[Long]],
      counts: Array[Array[Long]]): IndexedSeq[(IndexedSeq[Double], Double)] =
    cents.zipWithIndex.map { case ((prev, prevNrm), c) =>
      if (counts(c).isEmpty) (prev, prevNrm) // empty cell: keep previous centroid
      else {
        // a vector longer than the centroid grows it to the longest counted position
        val next = java.util.Arrays.copyOf(prev.toArray, math.max(prev.length, counts(c).length))
        counts(c).indices.foreach { pos =>
          next(pos) = sums(c)(pos).toDouble / counts(c)(pos) / 1048576.0
        }
        (next.toIndexedSeq, foldNorm(next.toIndexedSeq))
      }
    }

  private type CellSums = (Array[Array[Long]], Array[Array[Long]])

  /** One partition's (cell, vec) rows as per-cell, per-position sums of
    * floor(x·2²⁰) and element counts. A row with no cell adds nothing.
    */
  private def cellSums(
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow], nCells: Int): CellSums = {
    val sums, counts = Array.fill(nCells)(Array.emptyLongArray)
    rows.foreach { r =>
      val c = if (r.isNullAt(0) || r.isNullAt(1)) -1 else r.getInt(0)
      if (c >= 0 && c < nCells) addToCell(sums, counts, c, r.getArray(1))
    }
    (sums, counts)
  }

  /** Adds a vector of doubles to cell `c`'s sums: every position counts, and
    * a non-null element adds floor(x·2²⁰).
    */
  private def addToCell(
      sums: Array[Array[Long]], counts: Array[Array[Long]], c: Int, v: ArrayData): Unit = {
    val len = v.numElements()
    if (len > counts(c).length) {
      sums(c) = java.util.Arrays.copyOf(sums(c), len)
      counts(c) = java.util.Arrays.copyOf(counts(c), len)
    }
    var i = 0
    while (i < len) {
      counts(c)(i) += 1
      if (!v.isNullAt(i))
        sums(c)(i) = math.addExact(sums(c)(i), math.floor(v.getDouble(i) * 1048576.0).toLong)
      i += 1
    }
  }

  private def addCellSums(x: CellSums, y: CellSums): CellSums = {
    def add(a: Array[Long], b: Array[Long]): Array[Long] = {
      val (long, short) = if (a.length >= b.length) (a.clone(), b) else (b.clone(), a)
      short.indices.foreach(i => long(i) = math.addExact(long(i), short(i)))
      long
    }
    (x._1.indices.map(c => add(x._1(c), y._1(c))).toArray,
      x._2.indices.map(c => add(x._2(c), y._2(c))).toArray)
  }

  /** Deterministic quantizer init: the nlist corpus vectors of positive
    * norm with the smallest md5(id), as (centroid, norm) driver constants.
    * A null or zero vector is never a centroid; every later step leaves it
    * unassigned.
    */
  private[ext] def sampleCentroids(
      prep: DataFrame, nlist: Int): IndexedSeq[(IndexedSeq[Double], Double)] =
    prep
      .filter(col("nrm") > 0)
      .withColumn("ck", initKey(col("id")))
      .orderBy("ck").limit(nlist)
      .select("vec", "nrm").collect()
      .map(r => (r.getSeq[Float](0).map(_.toDouble).toIndexedSeq, r.getDouble(1)))
      .toIndexedSeq

  /** The quantizer init's order: [[sampleCentroids]] takes the rows with
    * the `nlist` smallest keys.
    */
  private def initKey(id: Column): Column = md5(id.cast("string"))

  /** Left-to-right double fold of Σx² — the same accumulation order as the
    * engine-side norm, so driver-computed centroid norms are bit-identical
    * to what DuckDB's list fold produces.
    */
  private[ext] def foldNorm(v: IndexedSeq[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** Cosine of every row's vec against each centroid, as one array column of
    * native dots vs literal weight arrays (map-side only). A zero or null
    * vector scores null ([[guardedCosine]]), and a null score never wins
    * the argmax, so such a vector stays unassigned.
    */
  private[ext] def withCellScores(
      prep: DataFrame, centroids: Seq[(IndexedSeq[Double], Double)]): DataFrame = {
    prep.withColumn("scores", array(
      centroids.map { case (cv, cn) =>
        guardedCosine(col("vec"), col("nrm"), typedlit(cv), lit(cn))
      }: _*))
  }

  /** Assign/probe/search against a fixed quantizer: every corpus vector into
    * its argmax-cosine cell, every query probing its nprobe best cells,
    * exact cosine within probed cells only, per-query top-k.
    */
  private def ivfSearch(
      prep: DataFrame,
      centroids: IndexedSeq[(IndexedSeq[Double], Double)],
      k: Int, nprobe: Int): DataFrame = {
    // corpus side: argmax cell (array_position over the score array).
    // The coalesce(-1) makes `cell` NON-NULLABLE so the join's inferred
    // isnotnull(cell) filter constant-folds instead of being pushed into
    // the parquet scan's DataFilters, where the whole inlined nlist-dot
    // scoring expression was re-evaluated INTERPRETED per row (measured
    // 445µs/row vs 40µs/row codegen'd; seen verbatim in the scan node).
    // Value-identical: a null cell never joins, and the -1 sentinel
    // matches no probe cell (probe cells are 0..nlist-1).
    val assigned = withCellScores(prep, centroids)
      .withColumn("cell",
        coalesce(
          (array_position(col("scores"), array_max(col("scores"))) - 1).cast("int"),
          lit(-1)))
      .drop("scores")
    // query side: top-nprobe cells = indices of the nprobe largest scores.
    // Two plan-shape points (verified against the executed plan):
    //  - the generator input is a LITERAL sequence(1, nprobe) and the
    //    ranked-cell array is picked with element_at AFTER the Generate —
    //    exploding the computed array itself makes Catalyst push the
    //    explode's implicit size(...)>0 filter down into the scan, where
    //    it re-evaluates the whole nlist-dot scoring+sort expression a
    //    second time per row (it showed up verbatim in DataFilters);
    //  - this side is the JOIN'S STREAM side (the assigned corpus side is
    //    the broadcast build), so after the explode Spread.byKey lifts the
    //    candidate dot-product stream — the dominant cost, avg-cell-size
    //    rows per probe row — off the single-row-group local-parquet
    //    split (structural no-op at scale). Spreading the narrow
    //    post-explode rows (not the scan) keeps the planner's
    //    build-side choice and scan stats intact.
    val probed0 = withCellScores(prep, centroids)
      .withColumn("cells",
        transform(
          array_sort(
            transform(col("scores"),
              (s, i) => struct((-s).as("neg"), i.as("idx")))),
          x => x.getField("idx")))
      .select(col("id"), col("vec"), col("nrm"), col("cells"),
        explode(sequence(lit(1), lit(nprobe))).as("pr"))
      .select(
        col("id").as("query_id"), col("vec").as("q_vec"), col("nrm").as("q_nrm"),
        coalesce(element_at(col("cells"), col("pr")), lit(-2)).as("cell"))
    val probed = Spread.byKeyPinned(probed0, col("query_id"))
    // every (query, neighbor) pair meets AT MOST ONCE: a neighbor is
    // assigned to exactly one cell (argmax) and a query's probe cells are
    // distinct indices — so the old groupBy(query, neighbor).max was a
    // full extra shuffle of the candidate mass that combined nothing
    // (every key unique); the top-k window consumes the join output
    // directly (guide §2.4). The probe side is the broadcast side
    // (nprobe rows per query), so the candidate dot-product stream rides
    // the corpus-side scan's partitioning — Spread.byKey lifts the
    // single-row-group local-parquet case onto all cores (structural
    // no-op at scale), and Spark's WindowGroupLimit pre-filters each
    // partition to its own top-k before the one ranking exchange.
    val scored = probed.join(
        assigned.select(col("cell"),
          col("id").as("neighbor_id"), col("vec").as("c_vec"), col("nrm").as("c_nrm")),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"), qcCosine.as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Symmetric per-vector int8 quantization — the storage/IO scale path for
    * embedding columns (4× smaller than float32, and int8 dot kernels at
    * read time): scale = 127 / max|x|, q_i = floor(x_i·scale + 0.5).
    * Map-side only — no shuffle; the whole pass is codegen'd array
    * transforms over the scan.
    *
    * Determinism/portability: every step (abs/max comparisons, one double
    * divide, one multiply-add, floor) is an exact or IEEE-deterministic
    * operation identical in any engine — floor(x+0.5) is used instead of
    * round() precisely because round's half-way rule differs across
    * engines. Zero vectors quantize with scale 1.0.
    */
  def quantizeInt8(
      df: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val maxabs = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    df.select(col(idCol), col(vecCol))
      .withColumn("scale",
        when(maxabs === 0.0, lit(1.0)).otherwise(lit(127.0) / maxabs))
      .withColumn("qvec",
        transform(col(vecCol),
          x => floor(x.cast("double") * col("scale") + 0.5).cast("int")))
      .drop(vecCol)
  }

  /** Dequantized vector (double elements) for a quantizeInt8 row. */
  def dequantize(qvec: Column, scale: Column): Column =
    transform(qvec, q => q.cast("double") / scale)

  /** Planes needed so the EXPECTED bucket size n/2^planes stays at or below
    * `targetBucketSize` — use when the corpus count is known and recall can
    * be traded for sparsity (raise `numTables` to compensate). The q22/q51
    * defaults intentionally do NOT auto-scale: their oracle is the exact
    * pair set, so recall must stay 1.0 (spec-verified at threshold 0.35).
    */
  def planesForCount(corpusCount: Long, targetBucketSize: Long = 4096L): Int =
    math.max(1, math.ceil(
      math.log(corpusCount.toDouble / targetBucketSize) / math.log(2.0)).toInt)

  /** LSH candidate pairs for threshold similarity: vectors sharing at least
    * one hyperplane-sign bucket in at least one of `numTables` independent
    * sign families.
    *
    * Recall math (random hyperplanes): a pair at angle θ collides in one
    * table with probability (1 − θ/π)^numPlanes, and is missed by all
    * tables with probability (1 − (1 − θ/π)^numPlanes)^numTables. Few
    * planes + many tables pushes recall → 1 for low thresholds; more
    * planes (finer buckets) makes high-threshold search sublinear.
    *
    * The defaults (2 planes × 20 tables) are recall-tuned for LOW
    * thresholds only — at 0.35 on near-orthogonal random vectors the true
    * pair set is itself dense, so ~all pairs survive as candidates and the
    * plan's job is to DISTRIBUTE that inherent O(n²), not avoid it.
    * Production near-dup thresholds (≥ 0.7) should raise `numPlanes`
    * (see [[planesForCount]]) for genuinely sub-quadratic candidate sets.
    *
    * Scale shape: a naive self-join on (tbl, bucket) has key cardinality
    * numTables × 2^numPlanes — CONSTANT in corpus size, so one hot bucket
    * pins one task with O(size²) work. Instead each bucket is split into
    * ⌈size/bucketCap⌉ hash-salted blocks and the join runs per block-PAIR:
    * a row in block p enters side A under keys (p, j) for j ≥ p and side B
    * under keys (i, p) for i ≤ p, so every intra-bucket pair meets exactly
    * once (ordered block pairs; same-block pairs de-duped by id order). Key
    * cardinality now grows as Σ_buckets (size/cap)², each task holds ~2·cap
    * input rows and ≤ cap² pair work — parallelism scales with data and no
    * partition can exceed the cap, at the price of ⌈size/cap⌉ replicas of
    * each (short) id row. The candidate SET is identical to the uncapped
    * join (ScalePathSpec asserts both properties).
    *
    * Cross-table dedup is NOT a `distinct()` (that would shuffle the full
    * numTables-times-replicated pair stream): all numTables × numPlanes
    * sign bits pack into ONE long per row (requires ≤ 62 bits), and the
    * join keeps a pair only in the FIRST table where the signatures
    * collide — "no earlier table collides" is one XOR + shift-OR fold +
    * mask compare on two longs, evaluated inside the join stage. Bucket
    * rows are fixed-width primitives (int, int, id, long), so the O(n²)
    * intermediate stream costs no string/array materialization, and the
    * output is exactly-once by construction with zero extra shuffles.
    */
  def cosineCandidates(
      corpus: DataFrame,
      dim: Int = 64,
      numPlanes: Int = 2,
      numTables: Int = 20,
      seed: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bucketCap: Int = 4096): DataFrame = {
    require(numTables * numPlanes <= 62,
      s"packed-signature path needs numTables*numPlanes <= 62 bits, " +
        s"got $numTables*$numPlanes; lower one or shard into multiple calls")
    // ALL sign bits in one projection over ONE scan (T·numPlanes native dot
    // products per row) packed into one long; bit t*numPlanes+p is plane p
    // of table t — the same (seed + t*1000 + p) weight family as
    // [[hyperplaneSignature]], so buckets partition identically
    val packed = (0 until numTables).flatMap { t =>
      (0 until numPlanes).map { p =>
        val proj = graft.functions.VectorFunctions.dotNative(
          col("vec"), typedlit(planeWeights(seed + t * 1000 + p, dim)))
        when(proj >= 0, lit(1L << (t * numPlanes + p))).otherwise(lit(0L))
      }
    }.reduce(_ bitwiseOR _)
    val groupMask = (1L << numPlanes) - 1
    val buckets = (0 until numTables).map { t =>
      struct(
        lit(t).as("tbl"),
        shiftright(col("sig"), t * numPlanes).bitwiseAND(lit(groupMask))
          .cast("int").as("bucket"))
    }
    val bucketed = corpus
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .select(col("id"), packed.as("sig"))
      .select(col("id"), col("sig"), explode(array(buckets: _*)).as("s"))
      .select(col("s.tbl").as("tbl"), col("s.bucket").as("bucket"),
        col("id"), col("sig"))
    val blocked = blockAssignments(bucketed, bucketCap)
    val a = blocked.select(
      col("tbl"), col("bucket"), col("blk").as("bi"),
      explode(sequence(col("blk"), col("nblocks") - 1)).as("bj"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = blocked.select(
      col("tbl"), col("bucket"),
      explode(sequence(lit(0), col("blk"))).as("bi"), col("blk").as("bj"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    // First-collision predicate: drop the pair unless NO table before `tbl`
    // already bucketed it together (exactly-once across tables, in-stage).
    // x = sig_a XOR sig_b; table g collides iff its numPlanes-bit group in x
    // is all zero. OR-fold the group bits onto each group's LSB, then
    // require the LSB set (= some bit differs = no collision) for EVERY
    // group before `tbl`.
    val x = col("sig_a").bitwiseXOR(col("sig_b"))
    val folded = (1 until numPlanes)
      .foldLeft(x)((acc, p) => acc.bitwiseOR(shiftright(x, p)))
    val lsbMask = lit((0 until numTables).map(g => 1L << (g * numPlanes)).sum)
    val lowMask = expr(s"shiftleft(1L, tbl * $numPlanes) - 1")
    val lowLsb = lsbMask.bitwiseAND(lowMask)
    val firstCollision = folded.bitwiseAND(lowLsb) === lowLsb
    a.join(b, Seq("tbl", "bucket", "bi", "bj"))
      // same-block pairs meet in both orientations → keep one by id order;
      // cross-block pairs meet exactly once (possibly "backwards") → keep
      // unconditionally and normalize with least/greatest below
      .filter(col("bi") < col("bj") || col("id_a") < col("id_b"))
      .filter(firstCollision)
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
  }

  /** (tbl, bucket, nblocks, blk, id) for each bucketed id row: block count
    * ⌈bucket size / bucketCap⌉ per bucket, block by stable id hash.
    * Package-visible so ScalePathSpec can assert key-cardinality growth.
    *
    * The per-bucket count aggregate has one row per NON-EMPTY bucket
    * (≤ corpus rows, typically ≪), joined back on the bucket key — AQE
    * broadcasts it when small, falls back to a hash join when the bucket
    * space is huge.
    */
  private[graft] def blockAssignments(bucketed: DataFrame, bucketCap: Int): DataFrame = {
    val nblocks = bucketed.groupBy("tbl", "bucket")
      .agg(ceil(count(lit(1)) / lit(bucketCap.toDouble)).cast("int").as("nblocks"))
    bucketed.join(nblocks, Seq("tbl", "bucket"))
      .withColumn("blk", pmod(xxhash64(col("id")), col("nblocks")).cast("int"))
  }

  /** All pairs above a cosine threshold via LSH candidates + exact verify —
    * the embedding twin of the minhash→LSH→Jaccard-verify near-dup layout
    * (see [[Dedup.nearDuplicates]]). Candidate pairs come from
    * [[cosineCandidates]] (bucket-local equi-join); the exact cosine is then
    * computed ONLY for candidates, and precision is exact by construction —
    * only recall depends on the LSH parameters.
    *
    * At 100 TB: no stage broadcasts or cross-joins the corpus — the bucket
    * join, the candidate distinct, and the two verify joins are all
    * hash-partitioned equi-joins. For low thresholds (θ near π/2) the
    * candidate set is inherently dense — that is a property of the problem
    * (the true result set itself approaches O(n²)) — and the plan degrades
    * gracefully into a distributed blocked pair join rather than a driver
    * or single-executor bottleneck.
    */
  def cosinePairsAboveLsh(
      corpus: DataFrame,
      threshold: Double,
      dim: Int = 64,
      numPlanes: Int = 2,
      numTables: Int = 20,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bucketCap: Int = 4096): DataFrame = {
    val cand = cosineCandidates(corpus, dim, numPlanes, numTables, 0, idCol, vecCol, bucketCap)
    val a = prepared(corpus, idCol, vecCol, "id_a", "v_a", "n_a")
    val b = prepared(corpus, idCol, vecCol, "id_b", "v_b", "n_b")
    cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        round(guardedCosine(col("v_a"), col("n_a"), col("v_b"), col("n_b")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** All pairs above a cosine threshold, with a cost-based physical choice —
    * the same adaptive logic Catalyst applies to broadcast-vs-shuffle joins,
    * lifted to the pair-generation strategy:
    *
    *  - corpus ≤ `smallCorpusRows`: one broadcast nested-loop stage
    *    ([[cosinePairsAbove]]) — for a corpus that fits in a single
    *    broadcast, n²/2 codegen'd dot products in one map-side pass beat
    *    any bucketing machinery's fixed costs (shuffles, block bookkeeping,
    *    candidate joins);
    *  - larger: the LSH-blocked candidate path ([[cosinePairsAboveLsh]]),
    *    whose every stage is a hash-partitioned equi-join with capped
    *    per-task work — nothing is broadcast or driver-bound, so it
    *    survives any corpus size.
    *
    * Both paths produce the identical pair set (SimilaritySpec proves the
    * LSH path equals the exact cross product at the default parameters);
    * only the physical plan changes. The row-count probe is a
    * metadata-backed `count()` — for parquet sources it folds to footer
    * statistics, no data scan.
    */
  def cosinePairsAboveAuto(
      corpus: DataFrame,
      threshold: Double,
      dim: Int = 64,
      smallCorpusRows: Long = 8192,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    if (corpus.count() <= smallCorpusRows)
      cosinePairsAbove(corpus, threshold, idCol, vecCol)
    else
      cosinePairsAboveLsh(corpus, threshold, dim, idCol = idCol, vecCol = vecCol)

  /** All pairs above a cosine threshold (near-duplicate detection by
    * embedding). Exact over the full cross product — quadratic; suitable for
    * per-bucket use or bounded corpora. The scale path is
    * [[cosinePairsAboveLsh]]; [[cosinePairsAboveAuto]] picks per corpus size.
    */
  def cosinePairsAbove(
      corpus: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // spread the stream side of the BNLJ with a PINNED partition count: an
    // unpinned repartition of a ~2 MB embedding frame is coalesced back to
    // one task by AQE, re-serializing the n²/2 dot pass
    val a = Spread.byKeyPinned(
      prepared(corpus, idCol, vecCol, "id_a", "v_a", "n_a"), col("id_a"))
    val b = prepared(corpus, idCol, vecCol, "id_b", "v_b", "n_b")
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .select(
        col("id_a"), col("id_b"),
        round(guardedCosine(col("v_a"), col("n_a"), col("v_b"), col("n_b")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** ANN quality harness: recall@k of an approximate top-k result against
    * exact ground truth. Both inputs carry (query_id, neighbor_id) rows;
    * recall = |approx ∩ exact| / k per query, with zero-hit queries kept
    * (left join from the exact side's query set).
    *
    * Scale: top-k result sets are k·|queries| rows — tiny next to the
    * corpus — so the intersection join is broadcast-sized by construction.
    * This is the sweep primitive for tuning nlist/nprobe (or PQ m/k*)
    * against a ground-truth sample before committing an index layout.
    */
  /** Supervised nearest-centroid classification over an embedding column:
    * per-label centroids (quantized-integer element means — exact and
    * order-independent, the k-means discipline), every vector assigned to
    * its argmax-cosine centroid (ties → smaller label), reported as a
    * confusion matrix (label × predicted → count). The evaluation primitive
    * for "do my embedding clusters match my labels".
    *
    * Scale: centroid training is one posexplode + hash aggregation keyed
    * (label, pos) — |labels|·dim result rows, collected as plan literals
    * (labels are a classification taxonomy: bounded). Scoring is map-side
    * only (native dot against literal centroid arrays — the IVF scoring
    * shape), and the confusion aggregate shuffles |labels|² partial rows.
    */
  def centroidClassify(
      corpus: DataFrame,
      labelCol: String = "label",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val prep = corpus.select(
        col(labelCol).cast("int").as("lbl"), col(idCol).as("id"),
        col(vecCol).as("vec"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorFunctions.dotNative(col("vec"), col("vec"))))
    val sums = prep
      .select(col("lbl"), posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy("lbl", "pos")
      .agg(
        sum(floor(col("v").cast("double") * lit(1048576.0)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .collect()
    val centroids = sums.groupBy(_.getAs[Int]("lbl")).toSeq.sortBy(_._1).map {
      case (lbl, rows) =>
        val dim = rows.map(_.getAs[Int]("pos")).max + 1
        val cv = new Array[Double](dim)
        rows.foreach { r =>
          cv(r.getAs[Int]("pos")) =
            r.getAs[Long]("s").toDouble / r.getAs[Long]("n") / 1048576.0
        }
        (lbl, cv.toIndexedSeq, foldNorm(cv.toIndexedSeq))
    }
    val scored = withCellScores(prep, centroids.map { case (_, cv, cn) => (cv, cn) })
    val labelLits = array(centroids.map(c => lit(c._1)): _*)
    scored
      .withColumn("predicted",
        labelLits.getItem(
          (array_position(col("scores"), array_max(col("scores"))) - 1).cast("int")))
      .groupBy(col("lbl").as(labelCol), col("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  /** Semantic deduplication (the SemDeDup layout: cluster first, then dedup
    * only within clusters): a k-means quantizer partitions the corpus into
    * nlist cells, exact cosine runs over intra-cell pairs only, pairs at or
    * above `tau` form an edge set, and connected components pick one
    * canonical representative (min id) per semantic cluster. Output is one
    * row per vector: (id, cell, cluster_id, keep).
    *
    * Small corpora run on the driver: at most [[DriverMaxVectors]] vectors
    * of float elements with integral ids, read in at most as many
    * partitions as the session has cores. One job with no shuffle collects
    * (id, vector, norm, init key), at most cutoff rows per partition
    * ([[BoundedCollect]]). The driver then runs the same computation as the
    * Spark plan with the same kernels: the md5 init order, the `iters`
    * Lloyd rounds on exact floor(x·2²⁰) sums, the first-maximum argmax
    * cell, `round(cosine, 4) >= tau` over each cell's pairs and a
    * union-find ([[graft.ext.Dedup.unionFind]]). The result is a local
    * frame with the Spark plan's schema, so filtering and collecting it
    * starts no job. One job in all, instead of one per Lloyd round plus the
    * pair joins and the CC stage: at this size those cost job and plan
    * overhead, not data work. An input the driver cannot reproduce bit for
    * bit runs the Spark plan unchanged: a null id, vector or element, a
    * duplicate id, a zero norm or other zero denominator, a NaN score, an
    * overflowing sum, or more rows than the cutoff.
    *
    * The cutoff bounds the worst case, every vector in one cell: n(n−1)/2
    * dot products of `dim` on one driver thread, so after the collect
    * n²·dim must also stay within DriverMaxVectors²·64. Measured on 4
    * cores (64-dim Gaussian vectors in one parquet split, τ=0.95, median
    * of 3 warm calls including the result collect): 4000 vectors in one
    * cell take 1.0 s on the driver against 5.3 s through the Spark plan,
    * and 0.25 s against 1.29 s at nlist 8; 8000 vectors in one cell take
    * 4.7 s against 20.7 s. The Spark plan does not win at these sizes (its
    * one-cell case shuffles every candidate pair), so the cutoff holds the
    * driver's worst case near one second of one thread, and the collect
    * to ~2 MB of vectors.
    *
    * Why the Spark plan scales where all-pairs cannot: the pairwise stage
    * is bounded by Σ_cells size², and nlist grows with the corpus (cells
    * stay human-sized), so the quadratic term never sees the full n. The
    * intra-cell join reuses [[blockAssignments]]' salted block-pair
    * discipline — a hot cell is split into ⌈size/cellCap⌉ blocks joined
    * pairwise, so no single task exceeds cap² dot products and join-key
    * cardinality grows with data instead of being pinned at nlist. The CC
    * stage is [[graft.ext.Dedup.dedupClusters]]: a union-find on the
    * driver for a small pair graph, the pointer-jumping loop
    * (O(log diameter) rounds, lineage-truncated) at scale.
    */
  def semanticDedup(
      corpus: DataFrame,
      tau: Double = 0.3,
      nlist: Int = 8,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      cellCap: Int = 4096): DataFrame =
    semanticDedup(corpus, tau, nlist, iters, idCol, vecCol, cellCap, DriverMaxVectors)

  /** Largest corpus [[semanticDedup]] runs on the driver. */
  private[ext] val DriverMaxVectors = 4000

  /** The vector length [[DriverMaxVectors]] was sized at. */
  private val DriverSizedDim = 64

  private[graft] def semanticDedup(
      corpus: DataFrame, tau: Double, nlist: Int, iters: Int, idCol: String,
      vecCol: String, cellCap: Int, driverMaxVectors: Int): DataFrame = {
    val prep = prepared(corpus, idCol, vecCol, "id", "vec", "nrm")
    semanticDedupOnDriver(prep, tau, nlist, iters, idCol, driverMaxVectors)
      .getOrElse(semanticDedupOnSpark(prep, tau, nlist, iters, idCol, cellCap))
  }

  /** A division the driver path does not reproduce: a zero denominator (null
    * without ANSI mode, an error with it) or a NaN quotient.
    */
  private object NotOnDriver extends scala.util.control.ControlThrowable

  private def quotient(dot: Double, denominator: Double): Double = {
    val q = dot / denominator
    if (denominator == 0.0 || q.isNaN) throw NotOnDriver
    q
  }

  /** `round(c, 4) >= tau` as Spark's double `Round` decides it (HALF_UP on
    * `BigDecimal.valueOf`). Rounding moves c by at most 5e-5, so only a c
    * within 1e-3 of tau needs the decimal.
    */
  private def roundedAtLeast(c: Double, tau: Double): Boolean =
    if (c >= tau + 1e-3) true
    else if (c <= tau - 1e-3) false
    else (if (c.isInfinite) c
      else java.math.BigDecimal.valueOf(c).setScale(4, java.math.RoundingMode.HALF_UP)
        .doubleValue) >= tau

  private def semanticDedupOnDriver(
      prep: DataFrame, tau: Double, nlist: Int, iters: Int, idCol: String,
      maxVectors: Int): Option[DataFrame] = {
    val idField = prep.schema("id")
    val floats = prep.schema("vec").dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (maxVectors < 1 || nlist < 1 || !floats || !Dedup.isIntegral(idField.dataType)) return None
    // a null id or vector falls back in the collect, a null element here
    val rows = BoundedCollect(prep, maxVectors, Set(0, 1),
      col("id").cast("long"), col("vec").cast("array<double>"), col("nrm"), initKey(col("id")))
      .getOrElse(return None)
    val n = rows.length
    val dim = rows.iterator.map(_.getArray(1).numElements()).maxOption.getOrElse(0)
    if (n == 0 || n > maxVectors ||
        n.toLong * n * dim > maxVectors.toLong * maxVectors * DriverSizedDim ||
        rows.exists { r => val v = r.getArray(1); (0 until v.numElements()).exists(v.isNullAt) })
      return None
    // rows in ascending id order: a pair i < j is then (id_a, id_b), and
    // the union-find's node order is the row order
    val sorted = rows.sortBy(_.getLong(0))
    val ids = sorted.map(_.getLong(0))
    if ((1 until n).exists(i => ids(i) == ids(i - 1))) return None
    val vecs: Array[ArrayData] = sorted.map(_.getArray(1))
    val nrms = sorted.map(_.getDouble(2))
    def cells(cents: IndexedSeq[(IndexedSeq[Double], Double)]): Array[Int] = {
      val cs = cents.map { case (cv, cn) => (UnsafeArrayData.fromPrimitiveArray(cv.toArray), cn) }
      Array.tabulate(n) { i =>
        var best = -1
        var bestScore = 0.0
        cs.indices.foreach { c =>
          val s = quotient(DotProduct.dot(vecs(i), false, cs(c)._1, false), nrms(i) * cs(c)._2)
          if (best < 0 || s > bestScore) { best = c; bestScore = s }
        }
        best
      }
    }
    try {
      // the init: the rows with the nlist smallest keys, as in sampleCentroids
      var cents = sorted.sortBy(_.getUTF8String(3).toString).take(nlist)
        .map(r => (r.getArray(1).toDoubleArray().toIndexedSeq, r.getDouble(2))).toIndexedSeq
      for (_ <- 1 to iters) {
        val cell = cells(cents)
        val sums, counts = Array.fill(cents.length)(Array.emptyLongArray)
        (0 until n).foreach(i => addToCell(sums, counts, cell(i), vecs(i)))
        cents = lloydUpdate(cents, sums, counts)
      }
      val cell = cells(cents)
      // every vector is a node; each intra-cell pair at or above tau links two
      val ends = new scala.collection.mutable.ArrayBuilder.ofLong
      ids.foreach { id => ends += id; ends += id }
      (0 until n).groupBy(cell(_)).values.foreach { members =>
        members.indices.foreach { a =>
          val i = members(a)
          (a + 1 until members.length).foreach { b =>
            val j = members(b)
            val cos = quotient(DotProduct.dot(vecs(i), false, vecs(j), false), nrms(i) * nrms(j))
            if (roundedAtLeast(cos, tau)) { ends += ids(i); ends += ids(j) }
          }
        }
      }
      val (_, canonical) = Dedup.unionFind(ends.result())
      val out = Dedup.fromLong(idField.dataType)
      val rows = (0 until n).map { i =>
        Row(out(ids(i)), cell(i), out(canonical(i)), canonical(i) == ids(i))
      }
      Some(prep.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
        idField.copy(name = idCol),
        StructField("cell", IntegerType, nullable = false),
        StructField("cluster_id", idField.dataType, idField.nullable),
        StructField("keep", BooleanType, idField.nullable)))))
    } catch {
      case NotOnDriver | _: ArithmeticException => None
    }
  }

  private def semanticDedupOnSpark(
      prep: DataFrame, tau: Double, nlist: Int, iters: Int, idCol: String,
      cellCap: Int): DataFrame = {
    val cents = trainCentroids(prep, nlist, iters)
    // non-nullable cell: it feeds the block-pair JOIN key (`bucket`), and a
    // nullable key's inferred isnotnull filter is pushed into the parquet
    // scan where the inlined nlist-dot scoring expression re-runs
    // INTERPRETED per row (see ivfSearch); the -1 sentinel joins nothing,
    // exactly like the null it replaces
    val assigned = withCellScores(prep, cents)
      .withColumn("cell",
        coalesce(
          (array_position(col("scores"), array_max(col("scores"))) - 1).cast("int"),
          lit(-1)))
      .drop("scores")
    // candidate id pairs: all intra-cell pairs via the capped block-pair
    // join (ids only — vectors join back for the verify, so block
    // replication copies a long, not a dim-float array)
    val bucketed = assigned.select(
      lit(0).as("tbl"), col("cell").as("bucket"), col("id"))
    val blocked = blockAssignments(bucketed, cellCap)
    val pa = blocked.select(
      col("bucket"), col("blk").as("bi"),
      explode(sequence(col("blk"), col("nblocks") - 1)).as("bj"),
      col("id").as("id_a"))
    val pb = blocked.select(
      col("bucket"),
      explode(sequence(lit(0), col("blk"))).as("bi"), col("blk").as("bj"),
      col("id").as("id_b"))
    val cand = pa.join(pb, Seq("bucket", "bi", "bj"))
      .filter(col("bi") < col("bj") || col("id_a") < col("id_b"))
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    val va = prep.select(col("id").as("id_a"), col("vec").as("v_a"), col("nrm").as("n_a"))
    val vb = prep.select(col("id").as("id_b"), col("vec").as("v_b"), col("nrm").as("n_b"))
    val edges = cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(
          guardedCosine(col("v_a"), col("n_a"), col("v_b"), col("n_b")), 4).as("cosine"))
      .filter(col("cosine") >= tau)
      .select("id_a", "id_b")
    val labels = graft.ext.Dedup.dedupClusters(edges)
    assigned.select(col("id"), col("cell"))
      .join(labels.withColumnRenamed("id", "lid"), col("id") === col("lid"), "left")
      .select(
        col("id").as(idCol), col("cell"),
        coalesce(col("canonical_id"), col("id")).as("cluster_id"),
        (coalesce(col("canonical_id"), col("id")) === col("id")).as("keep"))
  }

  /** Hard-negative mining for contrastive training: for every vector, the
    * top-k most-cosine-similar vectors carrying a DIFFERENT label — the
    * "looks the same, isn't" examples. Same trained-IVF probe layout as
    * [[ivfTrainedTopK]] (argmax-cell assignment, nprobe best cells probed,
    * exact cosine inside probed cells only); the label inequality is a
    * cheap predicate inside the probe join, evaluated before the top-k
    * window ever forms.
    *
    * Scale: identical to the IVF search path — no broadcast of the corpus,
    * the probe join shuffles on short cell ids, per-query candidate sets
    * are cell-bounded.
    */
  def hardNegatives(
      corpus: DataFrame,
      k: Int = 5,
      nlist: Int = 8,
      nprobe: Int = 2,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val prep = corpus
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        col(labelCol).cast("int").as("lbl"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorFunctions.dotNative(col("vec"), col("vec"))))
    val cents = trainCentroids(prep.select("id", "vec", "nrm"), nlist, iters)
    // non-nullable cell (same inferred-isnotnull pushdown hazard as
    // ivfSearch; the -1 sentinel joins nothing)
    val assigned = withCellScores(prep, cents)
      .withColumn("cell",
        coalesce(
          (array_position(col("scores"), array_max(col("scores"))) - 1).cast("int"),
          lit(-1)))
      .drop("scores")
    // same plan-shape discipline as ivfSearch's probe side: literal
    // generator input + element_at after the Generate (no duplicated
    // scoring expression in a pushed size-filter), and the post-explode
    // stream spread off the single local scan split
    val probed0 = withCellScores(prep, cents)
      .withColumn("cells",
        transform(
          array_sort(
            transform(col("scores"),
              (s, i) => struct((-s).as("neg"), i.as("idx")))),
          x => x.getField("idx")))
      .select(col("id"), col("lbl"), col("vec"), col("nrm"), col("cells"),
        explode(sequence(lit(1), lit(nprobe))).as("pr"))
      .select(
        col("id").as("query_id"), col("lbl").as("query_label"),
        col("vec").as("q_vec"), col("nrm").as("q_nrm"),
        coalesce(element_at(col("cells"), col("pr")), lit(-2)).as("cell"))
    val probed = Spread.byKeyPinned(probed0, col("query_id"))
    // same discipline as ivfSearch: (query, neighbor) pairs are unique by
    // construction (one assigned cell per neighbor, distinct probe cells),
    // so the old 4-key groupBy.max shuffled the full candidate mass to
    // combine nothing; the probe side broadcasts, the corpus-side scan is
    // spread so the dot-product stream is not pinned to one split, and
    // WindowGroupLimit partial-top-ks before the single ranking exchange
    val scored = probed.join(
        assigned.select(col("cell"),
          col("id").as("neighbor_id"), col("lbl").as("neighbor_label"),
          col("vec").as("c_vec"), col("nrm").as("c_nrm")),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id") &&
        col("query_label") =!= col("neighbor_label"))
      .select(
        col("query_id"), col("query_label"), col("neighbor_id"), col("neighbor_label"),
        qcCosine.as("cos"))
    topKPerQuery(scored, k, "cos")
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), round(col("cos"), 4).as("cosine"), col("rank"))
  }

  /** IVF recall-vs-cost operating curve (the ANN-benchmarks discipline,
    * Aumüller et al. 2018): ONE row per `nprobe` operating point —
    * (nprobe, n_queries, n_candidates, sum_hits, recall_fp) — recall@k of
    * the IVF search against brute-force ground truth over the probe query
    * set, next to the probe COST (distinct candidate pairs actually
    * scored). q211 gives MinHash its threshold curve; this is the same
    * evidence-over-folklore sweep for the vector index: pick nprobe off
    * the measured knee, not a default.
    *
    * One pass serves every operating point: cells are ranked once per
    * vector (crn = probe depth), each candidate pair carries the FIRST
    * depth at which it appears (min over shared cells), and the sweep
    * explodes each pair to the operating points that include it — so the
    * corpus is never re-assigned and the probe join never re-runs per
    * nprobe. Counts are exact integers; recall_fp = ⌊Σhits·2²⁰/(n_q·k)⌋.
    *
    * Scale: assignment is map-side against broadcast literal centroids;
    * the candidate join shuffles on the short cell id; the per-point rank
    * window partitions by (nprobe, query) over candidate rows only. The
    * sweep multiplies candidate rows by ≤ |nprobes| — a constant.
    */
  def ivfOperatingCurve(
      corpus: DataFrame,
      k: Int = 5,
      nlist: Int = 16,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8),
      nQueries: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(p => p >= 1 && p <= nlist),
      s"nprobes must be in [1, nlist=$nlist]")
    val spark = corpus.sparkSession
    val prep = prepared(corpus, idCol, vecCol, "id", "vec", "nrm")
    val cents = sampleCentroids(prep, nlist)
    val maxProbe = nprobes.max
    // probe-depth ranking of cells, shared by corpus side (crn=1 ⇒ the
    // assigned cell) and query side (crn ≤ nprobe ⇒ probed cells)
    val cellRanks = withCellScores(prep, cents)
      .select(col("id"), col("vec"), col("nrm"),
        posexplode(col("scores")).as(Seq("idx", "score")))
      .withColumn("crn", row_number().over(
        Window.partitionBy("id").orderBy(col("score").desc, col("idx").asc)))
    val assigned = cellRanks.filter(col("crn") === 1)
      .select(col("idx").as("cell"), col("id").as("neighbor_id"),
        col("vec").as("c_vec"), col("nrm").as("c_nrm"))
    val probes = cellRanks.filter(col("id") < nQueries && col("crn") <= maxProbe)
      .select(col("idx").as("cell"), col("id").as("query_id"),
        col("vec").as("q_vec"), col("nrm").as("q_nrm"), col("crn"))
    // each candidate pair once, stamped with the first probe depth that
    // reaches it and its exact cosine
    val cand = probes.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("crn"), qcCosine.as("cos"))
      .groupBy("query_id", "neighbor_id")
      .agg(min(col("crn")).as("first_depth"), max(col("cos")).as("cos"))
    // ground truth: brute-force top-k over the same probe query set
    val truth = bruteForceTopK(
        corpus, corpus.filter(col(idCol) < nQueries), k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    // sweep: every candidate fans out to the operating points containing it
    val swept = cand
      .select(explode(typedlit(nprobes.map(_.toLong))).as("nprobe"), col("*"))
      .filter(col("first_depth") <= col("nprobe"))
    val topk = swept
      .withColumn("rank", row_number().over(
        Window.partitionBy("nprobe", "query_id")
          .orderBy(col("cos").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k && col("cos").isNotNull) // as in topKPerQuery
    val hits = topk.join(truth, Seq("query_id", "neighbor_id"))
      .groupBy("nprobe").agg(count(lit(1)).as("sum_hits"))
    val costs = swept.groupBy("nprobe").agg(count(lit(1)).as("n_candidates"))
    // n_queries enters as a 1-row broadcast aggregate (lazy composition —
    // no extra eager job), guarded for the empty-probe-set edge
    val nqRow = truth.agg(countDistinct(col("query_id")).cast("long").as("n_queries"))
    // drive from the requested nprobes list: an operating point whose
    // candidate set is empty must still report (nprobe, nq, 0, 0, 0) —
    // a silently missing curve point reads as "not measured"
    import spark.implicits._
    nprobes.map(_.toLong).toDF("nprobe")
      .join(costs, Seq("nprobe"), "left")
      .join(hits, Seq("nprobe"), "left")
      .crossJoin(broadcast(nqRow))
      .select(
        col("nprobe"),
        col("n_queries"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("sum_hits"), lit(0L)).as("sum_hits"),
        when(col("n_queries") > 0L,
          ExactMath.floorDiv(
            coalesce(col("sum_hits"), lit(0L)) * lit(1048576L),
            col("n_queries") * lit(k.toLong))).otherwise(0L)
          .cast("long").as("recall_fp"))
  }

  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val truth = exact.select(col("query_id"), col("neighbor_id"))
    val hits = truth
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    truth.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall"))
  }

  /** Diversity-constrained selection: pick at most `perCell` vectors from
    * each trained k-means cell, most-central first — a cluster-
    * representative coreset. A global top-N by any score concentrates on
    * the densest region of embedding space; capping per cell forces the
    * selection to SPAN the space (every populated cell contributes), which
    * is what "give me N diverse examples" means operationally. Ranking
    * within a cell is by cosine to the cell centroid (best representative
    * of the cell's meaning), vec id as the deterministic tiebreak.
    *
    * Scale: the quantizer is the shared [[trainCentroids]] path (nlist×dim
    * driver constant, broadcast); assignment is map-side; the only
    * corpus-wide shuffle is the per-cell rank window, keyed by cell — and
    * the bounded [[graft.functions.TopKAgg]] layout applies if cells grow
    * hot.
    */
  def diverseSelect(
      corpus: DataFrame,
      perCell: Int = 8,
      nlist: Int = 8,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val prep = prepared(corpus, idCol, vecCol, "id", "vec", "nrm")
    val cents = trainCentroids(prep, nlist, iters)
    val assigned = withCellScores(prep, cents)
      .withColumn("cell",
        (array_position(col("scores"), array_max(col("scores"))) - 1).cast("int"))
      .withColumn("centrality", array_max(col("scores")))
      .drop("scores", "vec", "nrm")
    val w = Window.partitionBy("cell").orderBy(col("centrality").desc, col("id").asc)
    assigned
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= perCell)
      .select(col("id").as(idCol), col("cell").cast("long").as("cell"), col("rank"))
  }

  /** Deterministic ±1 sign matrix for [[jlProject]]: row j is the sign
    * vector of output dimension j. Pure function of (seed, j, i), so the
    * DuckDB oracle replays it as literal arrays.
    */
  def jlSigns(seed: Int, inDim: Int, outDim: Int): IndexedSeq[IndexedSeq[Double]] =
    IndexedSeq.tabulate(outDim) { j =>
      IndexedSeq.tabulate(inDim) { i =>
        if (math.abs(scala.util.hashing.MurmurHash3.stringHash(s"$seed#$j#$i")) % 2 == 0)
          1.0 else -1.0
      }
    }

  /** Johnson–Lindenstrauss random projection (E151): project the embedding
    * column onto `outDim` deterministic ±1 hyperplanes (the database-
    * friendly JL variant — Achlioptas '01 shows ±1 entries preserve
    * distances like Gaussians). Output is exploded (id, dim, proj_fp) with
    * proj_fp = ⌊proj·2²⁰⌋ — the dimensionality-reduction step before a
    * cheaper ANN index or a disk-friendly sketch of a 100 TB embedding
    * table (64→16 dims = 4× smaller scans for distance-ish work).
    *
    * Scale: map-only — outDim native dots against literal sign vectors per
    * row, one posexplode; no shuffle at all. The left-to-right double fold
    * is the same order the DuckDB oracle folds, so ⌊·2²⁰⌋ agrees
    * bit-for-bit.
    */
  def jlProject(
      corpus: DataFrame,
      outDim: Int = 16,
      inDim: Int = 64,
      seed: Int = 11,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val signs = jlSigns(seed, inDim, outDim)
    val projections = array(signs.map { sv =>
      graft.functions.VectorFunctions.dotNative(col(vecCol), typedlit(sv))
    }: _*)
    corpus
      .select(col(idCol), posexplode(projections).as(Seq("dim", "proj")))
      .select(
        col(idCol), col("dim").cast("long").as("dim"),
        floor(col("proj") * lit(1048576.0)).cast("long").as("proj_fp"))
  }

  /** IVF cell-occupancy report (E169): vectors per quantizer cell with the
    * exact share — the index-health check before committing an IVF layout.
    * A cell holding half the corpus makes nprobe effectively a full scan;
    * empty cells waste the centroid budget. Read with [[silhouetteReport]]
    * (shape quality) — this is the SIZE quality.
    *
    * Scale: assignment is map-side against nlist literal centroids; the
    * occupancy aggregate emits ≤ nlist rows.
    */
  def ivfOccupancy(
      corpus: DataFrame,
      nlist: Int = 8,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val prep = prepared(corpus, idCol, vecCol, "id", "vec", "nrm")
    val cents = trainCentroids(prep, nlist, iters)
    val assigned = withCellScores(prep, cents)
      .withColumn("cell",
        (array_position(col("scores"), array_max(col("scores"))) - 1).cast("int"))
    val counts = assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val total = counts.agg(sum(col("n_vecs")).as("n"))
    counts.crossJoin(broadcast(total))
      .select(col("cell").cast("long").as("cell"),
        col("n_vecs").cast("long").as("n_vecs"),
        graft.ext.ExactMath.floorDiv(col("n_vecs") * lit(1048576L), col("n"))
          .as("share_fp"))
  }

  /** Per-cell simplified-silhouette report (E145) over the shared k-means
    * quantizer: for each vector, with s₁ = cosine to its own (argmax)
    * centroid and s₂ = cosine to the runner-up,
    *
    *   sil = (s₁ − s₂) / (1 − s₂)    (0 when 1 − s₂ ≤ 0)
    *
    * — the centroid form of the silhouette coefficient under cosine
    * distance d = 1 − cos (a = 1−s₁ ≤ b = 1−s₂ ⇒ (b−a)/max(a,b) collapses
    * to this), floored into 2²⁰ fixed point per vector BEFORE aggregating,
    * so per-cell sums are exact integers. sil ≈ 1 = tight cell, ≈ 0 =
    * boundary vector, < 0 never happens in this centroid form — but the
    * report still counts `n_low` (sil below ~0.25) as the "poorly
    * clustered" population. The cluster-quality gate run before trusting a
    * quantizer for SemDeDup / IVF / diverse selection.
    *
    * Scale: scoring is map-side (native dots vs nlist literal centroids);
    * the only shuffle is the final per-cell aggregation (≤ nlist rows out).
    * The double arithmetic is the same expression tree the DuckDB oracle
    * evaluates — identical IEEE results, deterministic floor.
    */
  def silhouetteReport(
      corpus: DataFrame,
      nlist: Int = 8,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val prep = prepared(corpus, idCol, vecCol, "id", "vec", "nrm")
    val cents = trainCentroids(prep, nlist, iters)
    val scored = withCellScores(prep, cents)
    // top-2 cells by (score desc, cell asc) — the q54 tiebreak, map-only
    val entries = cents.indices.map { i =>
      struct((lit(0.0) - col("scores").getItem(i)).as("ns"), lit(i).as("cell"))
    }
    val sorted = sort_array(array(entries: _*))
    val s1 = lit(0.0) - element_at(sorted, 1).getField("ns")
    val s2 = lit(0.0) - element_at(sorted, 2).getField("ns")
    val silFp = when(lit(1.0) - s2 > 0.0,
      floor((s1 - s2) / (lit(1.0) - s2) * lit(1048576.0)).cast("long"))
      .otherwise(0L)
    scored
      .select(
        element_at(sorted, 1).getField("cell").cast("long").as("cell"),
        silFp.as("sil_fp"))
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n"),
        graft.ext.ExactMath.floorDiv(sum(col("sil_fp")), count(lit(1)))
          .as("mean_sil_fp"),
        min(col("sil_fp")).cast("long").as("min_sil_fp"),
        sum(when(col("sil_fp") < 262144L, 1L).otherwise(0L)).cast("long").as("n_low"))
  }
}
