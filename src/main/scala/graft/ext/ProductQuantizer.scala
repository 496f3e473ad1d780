package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding columns — the memory-bound ANN
  * scale path: each vector is split into `m` contiguous subspaces and every
  * subspace is vector-quantized against its own small codebook, so a
  * 64-dim float32 vector compresses to `m` one-byte codes. Search is
  * asymmetric distance computation (ADC): a query precomputes the distance
  * from each of its subvectors to every codebook entry (an m×k table), and
  * a corpus vector's approximate distance is just m table lookups summed —
  * no float math per candidate at scan time.
  *
  * Scale design:
  *   - codebooks are driver constants (m·k·subDim doubles — the PQ model is
  *     driver-scale by definition) trained by a one-aggregation-per-
  *     iteration Lloyd loop: assignment is map-side against literal
  *     centroids, the shuffle carries only (subspace, code, element)
  *     partial sums;
  *   - encoding is map-side only (argmin over k literal distances per
  *     subspace) — the corpus never shuffles to be encoded;
  *   - ADC search broadcasts the query distance tables and scans codes;
  *     the per-query top-k runs TWO-STAGE (per-salt local top-k, then
  *     global), so no single reducer sees more than ~k·salts rows per
  *     query regardless of corpus size. The two-stage prune is
  *     semantically invisible: any global top-k row is a fortiori in its
  *     salt group's top-k under the same (adist, id) order.
  *
  * Determinism/portability (oracle-exact, as q54): Lloyd means are summed
  * as floor(x·2²⁰) integers; all distance folds are left-to-right double
  * accumulations (engine list_sum ≡ driver while-loop); argmin ties break
  * to the lowest code index; top-k ties to the lowest neighbor id. The
  * subspace L2² distance is computed as ‖x‖² − 2·x·c + ‖c‖² with that
  * exact association in both engines.
  */
object ProductQuantizer {

  /** codebooks(m)(j) = (centroid, ‖centroid‖²). */
  type Codebooks = IndexedSeq[IndexedSeq[(IndexedSeq[Double], Double)]]

  private def sumSquares(v: IndexedSeq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }

  /** ‖sub‖² − 2·sub·c + ‖c‖² for a float subvector column against a literal
    * codebook entry (all three terms codegen'd; see object doc for why this
    * shape instead of a fold over squared differences).
    */
  private def subCol(vecCol: String, mi: Int, subDim: Int): Column =
    slice(col(vecCol), mi * subDim + 1, subDim)

  /** Project each (config, subspace) subvector and its ‖·‖² ONCE, as named
    * columns in two stacked projections. Distance entries then reference
    * these attributes: one dot product per (row, code). Inlining the slice
    * and self-dot into every distance entry instead — the original shape —
    * evaluated each subvector slice 3× per code AND grew the generated
    * method past Janino's 64 KB limit (Σm·k duplicated trees), dropping
    * the encode/training stages to interpreted eval. Multi-referenced
    * non-cheap aliases do not collapse across projections, so the hoisted
    * form stays hoisted in codegen.
    */
  private def withSubNorms(
      corpus: DataFrame, vecCol: String, dim: Int,
      cfgs: Seq[(Int, Int)]): DataFrame = {
    import graft.functions.VectorFunctions.dotNative
    val withSubs = corpus.select(col("*") +: cfgs.map { case (m, mi) =>
      subCol(vecCol, mi, dim / m).as(s"__sub_${m}_$mi")
    }: _*)
    withSubs.select(col("*") +: cfgs.map { case (m, mi) =>
      dotNative(col(s"__sub_${m}_$mi"), col(s"__sub_${m}_$mi"))
        .as(s"__ssq_${m}_$mi")
    }: _*)
  }

  /** k distance entries ‖s‖² − 2·s·c_j + ‖c_j‖² for one subspace, over the
    * hoisted sub/ssq attributes.
    */
  private def distArray(
      sub: Column, ssq: Column,
      book: IndexedSeq[(IndexedSeq[Double], Double)]): Column = {
    import graft.functions.VectorFunctions.dotNative
    array(book.map { case (c, cc) =>
      ssq - lit(2.0) * dotNative(sub, typedlit(c)) + lit(cc)
    }: _*)
  }

  private def argMin(dists: Column): Column =
    (array_position(dists, array_min(dists)) - 1).cast("int")

  /** Train `m` codebooks of `k` entries by `iters` Lloyd iterations over
    * the corpus. Init: the k corpus vectors with the smallest md5(id),
    * sliced per subspace (the deterministic seed Similarity.sampleCentroids
    * uses). Empty cells keep their previous centroid.
    */
  def train(
      corpus: DataFrame,
      m: Int,
      k: Int,
      iters: Int,
      dim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Codebooks =
    trainMany(corpus, Seq(m), k, iters, dim, idCol, vecCol)(m)

  /** Train codebooks for SEVERAL subspace counts at once — each iteration
    * is still ONE aggregation pass over the corpus: every row explodes
    * into its (config, subspace, code, subvector) assignments across ALL
    * configs, and the shuffle carries (cfg, subspace, code, element)
    * partial integer sums. Per-config results are bit-identical to
    * training that config alone (the assignments are independent; only
    * the pass is shared) — the m-sweep's 3 configs cost 2 corpus
    * aggregations instead of 6, plus one seed collect instead of 3.
    */
  def trainMany(
      corpus: DataFrame,
      ms: Seq[Int],
      k: Int,
      iters: Int,
      dim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Map[Int, Codebooks] = {
    require(ms.nonEmpty && ms.distinct == ms, "ms must be distinct")
    ms.foreach(m => require(dim % m == 0, s"dim $dim not divisible into $m subspaces"))
    val seeds = corpus
      .withColumn("__ck", md5(col(idCol).cast("string")))
      .orderBy("__ck").limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toIndexedSeq)
      .toIndexedSeq
    var books: Map[Int, Codebooks] = ms.map { m =>
      val subDim = dim / m
      m -> IndexedSeq.tabulate(m) { mi =>
        seeds.map { v =>
          val sub = v.slice(mi * subDim, (mi + 1) * subDim)
          (sub, sumSquares(sub))
        }
      }
    }.toMap
    val cfgs = for (m <- ms; mi <- 0 until m) yield (m, mi)
    for (_ <- 1 to iters) {
      // the struct carries the k-entry DISTANCE ARRAY over the hoisted
      // sub/ssq attributes, not the argmin: array_position(d, array_min(d))
      // written inside the generate would duplicate all k distance trees
      // (argmin consumes d twice), and the Σm-config explode already holds
      // Σm·k distance expressions in ONE generated method — the duplicated
      // form grew past Janino's 64 KB limit and dropped the training stage
      // to interpreted eval. Post-explode, `dists` is an attribute and the
      // argmin is O(k) array ops.
      val prepped = withSubNorms(corpus, vecCol, dim, cfgs)
      val assignments = explode(array(cfgs.map { case (m, mi) =>
        struct(
          lit(m).as("cfg"),
          lit(mi).as("m"),
          distArray(col(s"__sub_${m}_$mi"), col(s"__ssq_${m}_$mi"),
            books(m)(mi)).as("dists"),
          col(s"__sub_${m}_$mi").as("sub"))
      }: _*))
      val sums = prepped
        .select(assignments.as("a"))
        .select(col("a.cfg"), col("a.m"),
          argMin(col("a.dists")).as("code"),
          posexplode(col("a.sub")).as(Seq("pos", "v")))
        .groupBy("cfg", "m", "code", "pos")
        .agg(
          sum(floor(col("v").cast("double") * lit(1048576.0)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(r =>
        (r.getAs[Int]("cfg"), r.getAs[Int]("m"), r.getAs[Int]("code")))
      books = books.map { case (m, book) =>
        m -> book.zipWithIndex.map { case (entries, mi) =>
          entries.zipWithIndex.map { case ((prev, prevCc), j) =>
            byCell.get((m, mi, j)) match {
              case Some(rows) =>
                val next = prev.toArray.clone()
                rows.foreach { r =>
                  next(r.getAs[Int]("pos")) =
                    r.getAs[Long]("s").toDouble / r.getAs[Long]("n") / 1048576.0
                }
                (next.toIndexedSeq, sumSquares(next.toIndexedSeq))
              case None => (prev, prevCc)
            }
          }
        }
      }
    }
    books
  }

  /** Corpus rows with a `codes` column (array of m 0-based code ids) —
    * map-side only.
    */
  def encode(
      corpus: DataFrame,
      books: Codebooks,
      dim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val m = books.length
    val cfgs = books.indices.map(mi => (m, mi))
    // hoist subvectors + norms, then distance arrays, then argmins — each
    // layer references the previous as attributes (see withSubNorms)
    val withDists = withSubNorms(corpus.select(col(idCol), col(vecCol)),
        vecCol, dim, cfgs)
      .select(col(idCol) +: col(vecCol) +: books.indices.map { mi =>
        distArray(col(s"__sub_${m}_$mi"), col(s"__ssq_${m}_$mi"),
          books(mi)).as(s"__d$mi")
      }: _*)
    withDists.select(col(idCol), col(vecCol),
      array(books.indices.map(mi => argMin(col(s"__d$mi"))): _*).as("codes"))
  }

  /** ADC top-k: the `numQueries` corpus vectors with the smallest md5(id)
    * search the encoded corpus. Output: query_id, neighbor_id, adist
    * (approximate L2², ascending), rank.
    */
  def pqTopK(
      corpus: DataFrame,
      k: Int = 5,
      m: Int = 4,
      numCodes: Int = 8,
      iters: Int = 2,
      numQueries: Int = 10,
      dim: Int = 64,
      salts: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    adcTopK(corpus, train(corpus, m, numCodes, iters, dim, idCol, vecCol),
      k, numQueries, dim, salts, idCol, vecCol)

  /** ADC search under ALREADY-TRAINED codebooks — the [[pqTopK]] search
    * stage alone, so sweeps train once (or share a [[trainMany]] pass)
    * and search per config.
    */
  def adcTopK(
      corpus: DataFrame,
      books: Codebooks,
      k: Int,
      numQueries: Int,
      dim: Int,
      salts: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val m = books.length
    val subDim = dim / m
    val encoded = encode(corpus, books, dim, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    val queries = corpus
      .withColumn("__ck", md5(col(idCol).cast("string")))
      .orderBy("__ck").limit(numQueries)
      .select(col(idCol), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toIndexedSeq))
      .toIndexedSeq
    // Driver-side ADC tables: dt(q)(m)(j) = ‖q_m‖² − 2·q_m·c + ‖c‖², the
    // same left-to-right folds the engine/oracle compute.
    val dtables: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = queries.map { case (_, qv) =>
      IndexedSeq.tabulate(m) { mi =>
        val sub = qv.slice(mi * subDim, (mi + 1) * subDim)
        val ssq = sumSquares(sub)
        books(mi).map { case (c, cc) =>
          var dot = 0.0; var i = 0
          while (i < sub.length) { dot += sub(i) * c(i); i += 1 }
          ssq - 2.0 * dot + cc
        }
      }
    }
    val dtLit = typedlit(dtables)
    val qidLit = typedlit(queries.map(_._1))
    val adist = (0 until m).map { mi =>
      element_at(
        element_at(element_at(dtLit, col("qi") + 1), mi + 1),
        element_at(col("codes"), mi + 1) + 1)
    }.reduce(_ + _)
    val scored = encoded
      .withColumn("qi", explode(sequence(lit(0), lit(numQueries - 1))))
      .withColumn("query_id", element_at(qidLit, col("qi") + 1))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adist.as("adist"))
    val order = Seq(col("adist").asc, col("neighbor_id").asc)
    val local = Window
      .partitionBy(col("query_id"), pmod(col("neighbor_id"), lit(salts)))
      .orderBy(order: _*)
    val global = Window.partitionBy(col("query_id")).orderBy(order: _*)
    scored
      .withColumn("__lr", row_number().over(local)).filter(col("__lr") <= k)
      .drop("__lr")
      .withColumn("rank", row_number().over(global)).filter(col("rank") <= k)
  }

  /** PQ operating curve: recall@k of the ADC ranking against the EXACT L2
    * top-k, one row per subspace count `m` — the companion of
    * `Similarity.ivfOperatingCurve` (which sweeps nprobe) so both index
    * knobs carry measured evidence instead of folklore defaults. More
    * subspaces = finer product structure = lower ADC distortion, at m bytes
    * per stored vector; the curve shows where recall saturates so a
    * deployment picks the smallest code that clears its recall floor.
    *
    * Output per m: (m, n_queries, sum_hits, recall_fp) with
    * recall_fp = ⌊Σhits·2²⁰/(n_q·k)⌋ — integers end-to-end, so the curve
    * hash-matches an independent SQL replay of the whole train/encode/
    * search pipeline per m.
    *
    * Scale: each m costs `iters` training aggregations plus one map-side
    * encode+ADC scan (the [[pqTopK]] path — codebooks and distance tables
    * are driver/broadcast constants, the per-query top-k is two-stage).
    * The exact-truth rank runs ONCE for all m: numQueries·|corpus| scored
    * rows, the same cost as the brute-force baseline it reuses. Curve
    * sweeps are offline planning ops; the per-m passes are sequential by
    * design, not a shuffle blowup.
    */
  def pqOperatingCurve(
      corpus: DataFrame,
      ms: Seq[Int] = Seq(2, 4, 8),
      k: Int = 5,
      numCodes: Int = 8,
      iters: Int = 2,
      numQueries: Int = 10,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(ms.nonEmpty && ms.forall(m => m >= 1 && dim % m == 0),
      s"every m must divide dim=$dim")
    import graft.functions.VectorFunctions.dotNative
    // exact L2² ground truth, computed once and shared by every m: the
    // same md5-smallest query set pqTopK searches, ranked by the same
    // ‖q‖²−2q·v+‖v‖² association the ADC distances use
    val queries = broadcast(corpus
      .withColumn("__ck", md5(col(idCol).cast("string")))
      .orderBy("__ck").limit(numQueries)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val truth = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .join(queries, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotNative(col("q_vec"), col("q_vec")) -
          lit(2.0) * dotNative(col("q_vec"), col("c_vec")) +
          dotNative(col("c_vec"), col("c_vec"))).as("dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("dist").asc, col("neighbor_id").asc)))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id")
    val nqRow = truth.agg(countDistinct(col("query_id")).cast("long").as("n_queries"))
    // one shared training: every m's codebooks refresh in the SAME
    // aggregation pass per Lloyd iteration (see trainMany)
    val books = trainMany(corpus, ms, numCodes, iters, dim, idCol, vecCol)
    val perM = ms.map { m =>
      adcTopK(corpus, books(m), k, numQueries, dim, idCol = idCol, vecCol = vecCol)
        .select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("sum_hits"))
        .select(lit(m.toLong).as("m"), col("sum_hits"))
    }.reduce(_ unionByName _)
    perM.crossJoin(broadcast(nqRow))
      .select(
        col("m"),
        col("n_queries"),
        col("sum_hits"),
        when(col("n_queries") > 0L,
          graft.ext.ExactMath.floorDiv(
            col("sum_hits") * lit(1048576L),
            col("n_queries") * lit(k.toLong))).otherwise(0L)
          .cast("long").as("recall_fp"))
  }

  /** Per-vector int8 scalar-quantization error audit (E204): the OTHER
    * standard embedding compression next to PQ — each vector maps its own
    * [min, max] range onto 0..255 (`q = ⌊(x−min)/scale + ½⌋`,
    * `scale = (max−min)/255`) and the audit reports the exact
    * reconstruction error that 4× compression costs: per-dim squared
    * error and peak |error| in 2²⁰ fixed point (fixed-pointed PER DIM,
    * then summed as integers, so the totals are order-independent and
    * engine-exact — never a float sum across rows). Flat-range vectors
    * (max = min) quantize losslessly to q = 0.
    *
    * Scale: array_min/max are native per-row ops; dims explode to
    * |corpus|·d rows of pure codegen'd arithmetic (no HOF lambdas — the
    * per-element lambda dispatch is the measured 100-1000× tax) and the
    * per-vector aggregation map-side-combines. Compare err_fp against
    * [[pqOperatingCurve]]'s recall to pick the cheaper codec per corpus.
    */
  def sq8ErrorAudit(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val base = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      array_min(col(vecCol)).cast("double").as("mn"),
      array_max(col(vecCol)).cast("double").as("mx"))
    base
      .select(col("vec_id"), col("mn"), col("mx"),
        posexplode(col("v")).as(Seq("pos", "xf")))
      .withColumn("x", col("xf").cast("double"))
      .withColumn("scale", (col("mx") - col("mn")) / lit(255.0))
      .withColumn("q",
        when(col("mx") > col("mn"),
          least(floor((col("x") - col("mn")) / col("scale") + lit(0.5))
            .cast("double"), lit(255.0)))
          .otherwise(lit(0.0)))
      .withColumn("diff", col("x") - (col("mn") + col("q") * col("scale")))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_dims"),
        sum(floor(col("diff") * col("diff") * lit(1048576.0)))
          .cast("long").as("err_fp"),
        max(floor(abs(col("diff")) * lit(1048576.0)))
          .cast("long").as("max_abs_err_fp"))
  }
}
