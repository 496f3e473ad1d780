package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distribution sanity checks over an embedding column — the "did my
  * encoder melt down" gate a 100 TB embedding pipeline runs before
  * indexing a new batch.
  *
  * All verdicts are integer-exact: norms are quantized to `floor(‖x‖·2²⁰)`
  * and the z-test is cross-multiplied so no division or sqrt happens on
  * the comparison path —
  *   |q − S/n| > z·σ  ⟺  (n·q − S)² > z²·(n·Q − S²)
  * with S = Σq, Q = Σq² held exactly in decimal. Both engines compute the
  * identical booleans, so outlier COUNTS are oracle-checkable, not just
  * approximately right.
  */
object EmbeddingStats {

  /** Per-label norm statistics + outlier counts (|z| > zThreshold). One
    * map-side norm pass, one hash aggregation keyed by label, one broadcast
    * join back for the per-row verdict, one final label aggregate.
    */
  def normOutliers(
      corpus: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding",
      zThreshold: Int = 2): DataFrame = {
    val q = floor(
      sqrt(graft.functions.VectorFunctions.dotNative(col(vecCol), col(vecCol))) * 1048576.0)
      .cast("long")
    val prep = corpus.select(col(labelCol).cast("int").as("lbl"), q.as("qn"))
    val stats = prep.groupBy("lbl").agg(
      count(lit(1)).as("n"),
      sum(col("qn")).cast("decimal(38,0)").as("s"),
      sum(col("qn").cast("decimal(38,0)") * col("qn")).as("qq"))
    val nd = col("n").cast("decimal(38,0)")
    val dev = nd * col("qn").cast("decimal(38,0)") - col("s")
    val varN2 = nd * col("qq") - col("s") * col("s") // n²·variance, exact
    prep.join(broadcast(stats), Seq("lbl"))
      .withColumn("is_outlier", dev * dev > lit(zThreshold * zThreshold) * varN2)
      .groupBy(col("lbl").as(labelCol))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        ((max(col("s")).cast("double") / max(col("n"))) / 1048576.0).as("mean_norm"))
  }

  /** Per-dimension profile of an embedding column: for every vector
    * position, the count, an integer-exact quantized sum (floor(x·2²⁰) —
    * the k-means discipline, so the derived mean is bit-identical in any
    * engine), and the min/max component values. The "is dimension 17 dead /
    * saturated / drifting" check run before (re)training a quantizer, and
    * the input to mean-centering.
    *
    * Scale: one posexplode + one hash aggregation keyed by the (dim-sized)
    * position — map-side combined; output is dim rows regardless of corpus
    * size.
    */
  /** Upper-triangle Gram matrix of the (2¹⁰-quantized) embedding corpus as
    * (i, j, n_vecs, g_sum) rows — see [[graft.functions.GramMatrix]] for
    * why this is an Aggregator and what the numbers diagnose. The flat
    * buffer index is decoded to (i, j) through a broadcast dim²-row
    * mapping, not arithmetic, so the layout lives in exactly one place.
    */
  def gramProfile(
      corpus: DataFrame, dim: Int = 64, vecCol: String = "embedding"): DataFrame = {
    val ses = corpus.sparkSession
    import ses.implicits._
    val mapping = (for { i <- 0 until dim; j <- i until dim } yield (i, j))
      .zipWithIndex.map { case ((i, j), t) => (t, i, j) }
      .toDF("pos", "i", "j")
    corpus
      .agg(graft.functions.GramMatrix.gram(dim)(col(vecCol)).as("g"))
      .select(col("g.n").as("n_vecs"), posexplode(col("g.sums")).as(Seq("pos", "g_sum")))
      .join(broadcast(mapping), Seq("pos"))
      .select(col("i"), col("j"), col("n_vecs"), col("g_sum"))
  }

  def dimensionProfile(
      corpus: DataFrame, vecCol: String = "embedding"): DataFrame =
    corpus
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .withColumn("qv", floor(col("v").cast("double") * lit(1048576.0)).cast("long"))
      .groupBy("pos")
      .agg(
        count(lit(1)).as("n"),
        sum(col("qv")).as("qsum"),
        min(col("v").cast("double")).as("min_v"),
        max(col("v").cast("double")).as("max_v"))
      .withColumn("mean_v",
        col("qsum").cast("double") / col("n").cast("double") / 1048576.0)

  /** Top principal direction (E180): power iteration on the corpus Gram
    * matrix, FULLY integer-exact. The Gram entries are [[gramProfile]]'s
    * quantized-integer sums; the iterate starts at the all-ones 2²⁰
    * vector, each step is an exact BigInt matrix-vector product followed
    * by a truncating renormalization (v ← v·2²⁰ quot max|v| — BigInt
    * `/` and DuckDB HUGEINT `//` both truncate toward zero), so after any
    * number of steps both engines hold bit-identical vectors. Three steps
    * of power iteration resolve the dominant direction of any spectrum
    * with a reasonable eigengap — and the OUTPUT question ("is there one
    * direction dominating my embedding space?" — the anisotropy that
    * makes raw cosine similarity degenerate, Ethayarajh '19) only needs
    * the dominant direction approximately.
    *
    * Scale: the corpus is touched ONCE (the mergeable GramMatrix
    * aggregate — one buffer per map task); iteration runs on the
    * collected dim² integer constant at the driver.
    */
  /** Shared Gram-load + BigInt power iteration: collects [[gramProfile]]
    * into a dense symmetric dim² matrix (the one corpus scan) and runs
    * `iters` exact matrix-vector steps with truncating 2²⁰ renormalization.
    * Both [[topPrincipalDirection]] and [[anisotropyScore]] consume this,
    * so the iteration semantics live in exactly one place.
    */
  private def gramPowerIterate(
      corpus: DataFrame, dim: Int, iters: Int,
      vecCol: String): (Array[Array[BigInt]], Array[BigInt]) = {
    val rows = gramProfile(corpus, dim, vecCol).collect()
    val g = Array.fill(dim, dim)(BigInt(0))
    rows.foreach { r =>
      val i = r.getAs[Int]("i"); val j = r.getAs[Int]("j")
      val s = BigInt(r.getAs[Long]("g_sum"))
      g(i)(j) = s; g(j)(i) = s
    }
    var v = Array.fill(dim)(BigInt(1048576))
    for (_ <- 1 to iters) {
      val num = Array.tabulate(dim)(i =>
        (0 until dim).map(j => g(i)(j) * v(j)).sum)
      val mx = num.map(_.abs).max
      v = if (mx == 0) v else num.map(n => (n * BigInt(1048576)) / mx)
    }
    (g, v)
  }

  def topPrincipalDirection(
      corpus: DataFrame,
      dim: Int = 64,
      iters: Int = 3,
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val (_, v) = gramPowerIterate(corpus, dim, iters, vecCol)
    import spark.implicits._
    v.zipWithIndex.map { case (c, i) => (i.toLong, c.toLong) }.toSeq
      .toDF("pos", "v_fp")
  }

  /** Anisotropy score (E181): how much of the embedding space's total
    * second moment the dominant direction owns — Rayleigh quotient
    * λ̂ = vᵀGv / vᵀv over [[topPrincipalDirection]]'s converged iterate,
    * divided by trace(G), all exact integers:
    *
    *   anisotropy_fp = ⌊vᵀGv · 2²⁰ / (vᵀv · trace(G))⌋
    *
    * ≈ 1/dim = isotropic (healthy); → 1 = one direction dominates and
    * cosine similarity is measuring that direction, not meaning — the
    * one-number verdict on q221's vector. Same one-scan Gram aggregate,
    * same bit-identical BigInt/HUGEINT arithmetic.
    */
  def anisotropyScore(
      corpus: DataFrame,
      dim: Int = 64,
      iters: Int = 3,
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val (g, v) = gramPowerIterate(corpus, dim, iters, vecCol)
    val gv = Array.tabulate(dim)(i => (0 until dim).map(j => g(i)(j) * v(j)).sum)
    val vGv = (0 until dim).map(i => v(i) * gv(i)).sum
    val vv = (0 until dim).map(i => v(i) * v(i)).sum
    val trace = (0 until dim).map(i => g(i)(i)).sum
    val aniso =
      if (vv == 0 || trace == 0) BigInt(0)
      else (vGv * BigInt(1048576)) / (vv * trace)
    import spark.implicits._
    Seq((trace.toLong, aniso.toLong)).toDF("trace", "anisotropy_fp")
  }

  /** All-but-the-top spectral audit (E209, Mu–Viswanath): how anisotropic
    * does the embedding space REMAIN once the dominant direction is
    * projected out — the one-number check on whether the standard
    * remove-top-component correction would fix cosine similarity or
    * whether the collapse is deeper (several dominant directions).
    *
    * Fully integer-exact on the same machinery as q221/q222: one Gram
    * scan, the shared power iterate for the top direction v, then the
    * deflated matrix D = G·(v̄ᵀv̄)² − (v̄ᵀGv̄)·v̄v̄ᵀ over the 2¹⁰-truncated
    * iterate v̄ (keeps every product within int128 for the DuckDB replay),
    * truncation-rescaled by 2⁴⁰, and a second power iteration on D.
    * Reports the q222 top-direction share and the residual share
    * λ̂₂/trace(D) of the deflated space — residual ≈ 1/dim means the
    * correction works; residual still high means multi-direction collapse.
    *
    * Scale: one corpus scan (the mergeable GramMatrix Aggregator); all
    * matrix work is driver-side dim² BigInt — constant in corpus size.
    */
  def allButTopAudit(
      corpus: DataFrame,
      dim: Int = 64,
      iters: Int = 3,
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val (g, v) = gramPowerIterate(corpus, dim, iters, vecCol)
    val big = BigInt(1048576)
    // top-direction share (q222's anisotropy, same arithmetic)
    val gv = Array.tabulate(dim)(i => (0 until dim).map(j => g(i)(j) * v(j)).sum)
    val vGv = (0 until dim).map(i => v(i) * gv(i)).sum
    val vv = (0 until dim).map(i => v(i) * v(i)).sum
    val trace = (0 until dim).map(i => g(i)(i)).sum
    val topShare =
      if (vv == 0 || trace == 0) BigInt(0) else (vGv * big) / (vv * trace)
    // deflate over the 2^10-truncated iterate (int128-safe products)
    val vb = v.map(_ / BigInt(1024))
    val vvb = (0 until dim).map(i => vb(i) * vb(i)).sum
    val gvb = Array.tabulate(dim)(i => (0 until dim).map(j => g(i)(j) * vb(j)).sum)
    val vGvb = (0 until dim).map(i => vb(i) * gvb(i)).sum
    val dScale = BigInt(1) << 40
    val d = Array.tabulate(dim, dim) { (i, j) =>
      (g(i)(j) * vvb * vvb - vGvb * vb(i) * vb(j)) / dScale
    }
    var v2 = Array.fill(dim)(big)
    for (_ <- 1 to iters) {
      val num = Array.tabulate(dim)(i => (0 until dim).map(j => d(i)(j) * v2(j)).sum)
      val mx = num.map(_.abs).max
      v2 = if (mx == 0) v2 else num.map(n => (n * big) / mx)
    }
    val dv2 = Array.tabulate(dim)(i => (0 until dim).map(j => d(i)(j) * v2(j)).sum)
    val v2Dv2 = (0 until dim).map(i => v2(i) * dv2(i)).sum
    val v2v2 = (0 until dim).map(i => v2(i) * v2(i)).sum
    val traceD = (0 until dim).map(i => d(i)(i)).sum
    val residual =
      if (v2v2 == 0 || traceD <= 0) BigInt(0) else (v2Dv2 * big) / (v2v2 * traceD)
    import spark.implicits._
    Seq((trace.toLong, topShare.toLong, residual.toLong))
      .toDF("trace", "top_share_fp", "residual_share_fp")
  }

  /** Per-group centroid shift (E163): pairwise cosine between group mean
    * embeddings — "does feed/label B live in a different region of
    * embedding space than A". Means are quantized-integer element means
    * (Σ⌊x·2²⁰⌋ / n / 2²⁰ — exact, order-independent, the k-means
    * discipline); the pairwise cosine is a deterministic left-to-right
    * double fold floored into 2²⁰ fixed point.
    *
    * Scale: one posexplode + (group, pos) hash aggregation; the |groups|²
    * pairwise stage runs on the collected |groups|·dim constant (groups
    * are a taxonomy — bounded), then returns as a local relation.
    */
  def centroidShift(
      df: DataFrame,
      groupCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    val sums = df
      .select(col(groupCol).cast("long").as("g"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("g", "pos")
      .agg(
        sum(floor(col("v").cast("double") * lit(1048576.0)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .collect()
    val centroids = sums.groupBy(_.getAs[Long]("g")).toSeq.sortBy(_._1).map {
      case (g, rows) =>
        val dim = rows.map(_.getAs[Int]("pos")).max + 1
        val cv = new Array[Double](dim)
        rows.foreach { r =>
          cv(r.getAs[Int]("pos")) =
            r.getAs[Long]("s").toDouble / r.getAs[Long]("n") / 1048576.0
        }
        (g, cv)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val rows = for {
      (ga, va) <- centroids; (gb, vb) <- centroids if ga < gb
    } yield {
      val cos = dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
      (ga, gb, math.floor(cos * 1048576.0).toLong)
    }
    import spark.implicits._
    rows.toDF("group_a", "group_b", "cosine_fp")
  }
}
