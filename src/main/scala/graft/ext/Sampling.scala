package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus sampling for training-data pipelines (north-star extension).
  *
  * `sample(fraction)` / `sampleBy` are per-partition Bernoulli filters — no
  * shuffle, no skew, uniform across the dataset — which is why the engine
  * uses them everywhere the reference used `LIMIT n` (a LIMIT reads one
  * partition's head: at 100 TB that is whatever file happened to sort
  * first, not a sample).
  */
object Sampling {

  /** Stratified sample: per-stratum Bernoulli fractions (df.stat.sampleBy).
    * Strata absent from `fractions` are dropped — the corpus-balancing
    * contract (e.g. cap every language at the same expected size).
    */
  def stratified(
      df: DataFrame, stratumCol: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    df.stat.sampleBy(stratumCol, fractions, seed)

  /** Balance a corpus to ~`targetPerStratum` expected rows per stratum:
    * one count pass derives the per-stratum fractions, then one Bernoulli
    * pass samples. Strata already at or under target pass through whole.
    * NULL-stratum rows are dropped (they are not a stratum), and fractions
    * key on the RAW stratum value, so non-string stratum columns sample
    * correctly.
    */
  def balanced(
      df: DataFrame, stratumCol: String,
      targetPerStratum: Long, seed: Long = 42L): DataFrame = {
    val nonNull = df.filter(col(stratumCol).isNotNull)
    val fractions: Map[Any, Double] = nonNull.groupBy(stratumCol).count().collect()
      .map(r => r.get(0) -> math.min(1.0, targetPerStratum.toDouble / r.getLong(1)))
      .toMap
    nonNull.stat.sampleBy(col(stratumCol), fractions, seed)
  }

  /** Deterministic, engine-portable balanced sampling: keep a row iff a
    * stable md5-derived hash of its id falls under the per-stratum fraction
    * — `hash(id) mod 10^6 < min(1, target/n)·10^6`. Unlike RNG `sampleBy`,
    * the selected ROWS are a pure function of the data, so runs are
    * reproducible across engines, partitionings, and retries (the property
    * a training-data pipeline wants for corpus freezes / ablations).
    *
    * Scale: one tiny groupBy-count broadcast-joined back; the filter is
    * map-side — no shuffle of the data itself, no skew sensitivity (the
    * count join broadcasts, so a 90%-one-language corpus costs nothing
    * extra).
    */
  def balancedDeterministic(
      df: DataFrame, stratumCol: String, targetPerStratum: Long,
      idCol: String, seed: Int = 0): DataFrame = {
    val nonNull = df.filter(col(stratumCol).isNotNull)
    val counts = nonNull.groupBy(stratumCol).agg(count(lit(1)).as("__stratum_n"))
    nonNull.join(broadcast(counts), Seq(stratumCol))
      .filter(
        pmod(Dedup.stableHash(col(idCol), seed), lit(1000000L)).cast("double") <
          least(lit(1.0), lit(targetPerStratum.toDouble) / col("__stratum_n")) * 1000000.0)
      .drop("__stratum_n")
  }

  /** Quality-proportional corpus thinning: keep each document with
    * probability equal to its quality score — the soft filter between
    * "drop everything below a threshold" (cliff effects at the boundary)
    * and "keep everything" (junk dominates). Deterministic and
    * engine-portable like every sampler here: keep ⟺
    * hash(id) mod 10⁶ < ⌊score·10⁶⌋, so the kept SET is a pure function
    * of the data (reproducible across engines, partitionings, retries),
    * and raising a document's score can only ever ADD it to the sample
    * (monotone — stable ablations as scorers improve).
    *
    * `scoreCol` must be in [0, 1] (clamp upstream); map-only, no shuffle.
    */
  def qualityThin(
      df: DataFrame, scoreCol: String, idCol: String, seed: Int = 0): DataFrame =
    df.filter(
      pmod(Dedup.stableHash(col(idCol), seed), lit(1000000L)) <
        floor(col(scoreCol).cast("double") * 1000000.0).cast("long"))

  /** Deterministic train/val/test assignment: `bucket = hash(id) mod 100`,
    * train < `trainPct`, val < `trainPct + valPct`, else test. A pure
    * function of the row id — the same document lands in the same split on
    * every run, engine, and partitioning, and membership can be recomputed
    * (never stored) at any scale. Map-only: no shuffle, no RNG state.
    */
  def hashSplit(
      df: DataFrame, idCol: String,
      trainPct: Int = 80, valPct: Int = 10, seed: Int = 0): DataFrame = {
    require(trainPct + valPct < 100, "train+val must leave room for test")
    val bucket = pmod(Dedup.stableHash(col(idCol), seed), lit(100L))
    df.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Temperature-scaled mixture budgets (α = 1/2): per-source weight
    * `w_s = ⌊√n_s · 2²⁰⌋`, per-source budget `⌊budget · w_s / Σw⌋` — the
    * standard multilingual-corpus flattening (sample ∝ n^α, α < 1) that
    * up-weights small sources relative to proportional sampling without
    * letting any source dominate. Engine-portable exactness: IEEE `sqrt`
    * is correctly rounded in every engine, ×2²⁰ is an exponent shift
    * (exact), `floor` pins the weight to an integer, and the budget split
    * is integer floor-division — no accumulation-order-sensitive float
    * math anywhere.
    *
    * Scale: one per-source count aggregate (|sources| rows) plus a
    * broadcast scalar total — nothing touches the data itself.
    */
  def temperatureBudgets(
      df: DataFrame, sourceCol: String, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    val w = df.filter(col(sourceCol).isNotNull)
      .groupBy(sourceCol).agg(count(lit(1)).as("n"))
      .withColumn("w", floor(sqrt(col("n").cast("double")) * (1L << 20).toDouble).cast("long"))
    w.crossJoin(broadcast(w.agg(sum(col("w")).as("tw"))))
      .withColumn("src_budget",
        ExactMath.floorDiv(lit(budget).cast("decimal(38,0)") * col("w"), col("tw")))
      .select(col(sourceCol), col("n"), col("w"), col("src_budget"))
  }

  /** Admit the best `src_budget` documents per source under
    * [[temperatureBudgets]]' α = 1/2 split, ranked by (`scoreCol` desc,
    * `idCol` asc) — deterministic manifest, reproducible across engines.
    *
    * Scale: the per-source rank is one shuffle on source; a single
    * dominant source serializes its own sort — at that shape, derive a
    * per-source score THRESHOLD from a grouped histogram sketch
    * (Profiler.histogramBy → quantile per group) and admit map-side
    * instead of ranking.
    */
  def temperatureSample(
      df: DataFrame, sourceCol: String, idCol: String, scoreCol: String,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budgets = temperatureBudgets(df, sourceCol, budget)
      .select(col(sourceCol), col("src_budget"))
    df.filter(col(sourceCol).isNotNull)
      .withColumn("rk",
        row_number().over(
          Window.partitionBy(sourceCol).orderBy(col(scoreCol).desc, col(idCol))).cast("long"))
      .join(broadcast(budgets), Seq(sourceCol))
      .filter(col("rk") <= col("src_budget"))
      .select(col(idCol), col(sourceCol), col("rk"), col("src_budget"))
  }

  /** Per-source quota admission with global backfill: every source admits
    * its best `quota` documents by (`scoreCol` desc, `idCol` asc); quota
    * a source cannot fill (fewer docs than quota) is pooled and re-awarded
    * to the globally best not-yet-admitted documents — the corpus-assembly
    * rule "guarantee every source a floor, spend the rest on quality".
    * Output: (id, source, rk, admitted_via ∈ {quota, backfill}); fully
    * deterministic.
    *
    * Scale: per-source ranking is one shuffle on source; the backfill is a
    * distributed top-k (`orderBy.limit` → TakeOrdered), never a global
    * sort. Two scalar driver actions (distinct-source count, admitted
    * count) size the backfill literal.
    */
  def admitWithQuota(
      df: DataFrame, sourceCol: String, idCol: String, scoreCol: String,
      quota: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(quota > 0, "quota must be > 0")
    val ranked = df.filter(col(sourceCol).isNotNull)
      .withColumn("rk",
        row_number().over(
          Window.partitionBy(sourceCol).orderBy(col(scoreCol).desc, col(idCol))).cast("long"))
    val admitted = ranked.filter(col("rk") <= quota)
    val nSources = ranked.select(sourceCol).distinct().count()
    val leftover = math.min(quota * nSources - admitted.count(), Int.MaxValue.toLong)
    val backfill = ranked.filter(col("rk") > quota)
      .orderBy(col(scoreCol).desc, col(idCol))
      .limit(leftover.toInt)
    admitted
      .select(col(idCol), col(sourceCol), col("rk"), lit("quota").as("admitted_via"))
      .unionByName(backfill
        .select(col(idCol), col(sourceCol), col("rk"), lit("backfill").as("admitted_via")))
  }

  /** Mix a corpus to target per-source proportions with a fixed total
    * budget. Integer-exact thresholds: keep a row of source s iff
    * `hash(id) mod 10^6 < min(10^6, (budget · weight_s · 10^6) div
    * (weightSum · n_s))`. Weights are integers (parts of `weightSum`), so
    * both engines compute identical thresholds — no float division.
    *
    * Scale: the per-source count aggregate is tiny (|sources| rows) and
    * broadcasts back; selection is a map-side filter. Up-weighting beyond
    * a source's size saturates at fraction 1 (no replication), matching
    * how corpus-mixing recipes cap at one epoch per source.
    */
  def mixtureSample(
      df: DataFrame, sourceCol: String, idCol: String,
      weights: Map[String, Long], budget: Long, seed: Int = 0): DataFrame = {
    val weightSum = weights.values.sum
    val wcol = weights.foldLeft(lit(0L)) { case (acc, (s, w)) =>
      when(col(sourceCol) === s, lit(w)).otherwise(acc)
    }
    val counts = df.filter(col(sourceCol).isin(weights.keys.toSeq: _*))
      .groupBy(sourceCol).agg(count(lit(1)).as("__src_n"))
    // keep iff hash < budget·w·10⁶ / (weightSum·n) — cross-multiplied so no
    // division happens at all (hash·weightSum·n and budget·w·10⁶ stay exact
    // in decimal at any corpus size; hash < 10⁶ makes the fraction-1 cap
    // implicit)
    df.join(broadcast(counts), Seq(sourceCol))
      .filter(
        pmod(Dedup.stableHash(col(idCol), seed), lit(1000000L))
          .cast("decimal(38,0)") * (lit(weightSum) * col("__src_n")) <
          lit(budget).cast("decimal(38,0)") * wcol * 1000000L)
      .drop("__src_n")
  }

  /** Leakage-safe train/val/test split: near-duplicate CLUSTERS are split
    * as a unit. [[hashSplit]] keyed on the document id can put two
    * near-copies of the same page on opposite sides of the train/test
    * fence — the classic eval-contamination bug where the model is graded
    * on a paraphrase of its own training data. Here the split key is the
    * cluster's canonical id (minimum doc id reachable through the
    * near-dup pair graph; singletons are their own cluster), so every
    * member of a duplicate cluster lands in the same split by
    * construction.
    *
    * Scale: the pair stage is the LSH-candidate-scoped near-dup pipeline
    * (never O(n²)), the cluster stage is pointer-jumping CC over the pair
    * set only (≪ corpus), and the split itself is one hash per row — the
    * only full-corpus shuffle is the left join of docs against the
    * cluster map, whose right side holds only docs that HAVE a near-dup.
    */
  def leakageSafeSplit(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      trainPct: Int = 80, valPct: Int = 10, seed: Int = 0,
      minJaccard: Double = 0.7): DataFrame = {
    require(trainPct + valPct < 100, "train+val must leave room for test")
    val pairs = Dedup.nearDuplicates(docs, textCol, idCol, minJaccard)
      .select("id_a", "id_b")
    val clusters = Dedup.dedupClusters(pairs)
      .withColumnRenamed("id", idCol)
    val withCluster = docs
      .join(clusters, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("canonical_id"), col(idCol)))
      .drop("canonical_id")
    val bucket =
      pmod(Dedup.stableHash(col("cluster_id"), seed), lit(100L))
    withCluster.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Epoch/repeat planning for a token-budget training mix: given the
    * α = ½ temperature weights over per-source TOKEN mass (not row
    * counts — sources with long documents weigh what they cost), how many
    * passes over each source does the budget imply? `repeat_fp` is the
    * repeat factor in 2²⁰ fixed point (1048576 = exactly one epoch);
    * sources pushed past `epochCap` epochs are flagged — the standard
    * data-mixing guardrail (repeating a small source too often overfits
    * it), telling the operator to lower that source's weight or accept
    * the cap.
    *
    * Integer-exact end to end: IEEE `sqrt` is correctly rounded, ×2²⁰ is
    * an exponent shift, `floor` pins to an integer, and both divisions
    * are decimal floor-divisions — no accumulation-order float math, so
    * the plan is bit-identical on every engine and cluster layout.
    *
    * Scale: one per-source aggregate (|sources| rows), one broadcast
    * scalar total; the corpus is scanned once for token sums.
    */
  def epochPlan(
      df: DataFrame, sourceCol: String, tokenCount: org.apache.spark.sql.Column,
      budgetTokens: Long, epochCap: Int = 4): DataFrame = {
    require(budgetTokens >= 0, "budget must be >= 0")
    val t = df.filter(col(sourceCol).isNotNull)
      .groupBy(sourceCol)
      .agg(count(lit(1)).as("n_docs"), sum(tokenCount).cast("long").as("n_tokens"))
      .withColumn("w",
        floor(sqrt(col("n_tokens").cast("double")) * (1L << 20).toDouble).cast("long"))
    t.crossJoin(broadcast(t.agg(sum(col("w")).as("tw"))))
      .withColumn("target_tokens",
        ExactMath.floorDiv(lit(budgetTokens).cast("decimal(38,0)") * col("w"), col("tw")))
      .withColumn("repeat_fp",
        ExactMath.floorDiv(
          col("target_tokens").cast("decimal(38,0)") * (1L << 20), col("n_tokens")))
      .withColumn("over_cap", col("repeat_fp") > lit(epochCap.toLong << 20))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"), col("w"),
        col("target_tokens"), col("repeat_fp"), col("over_cap"))
  }

  /** The audit that motivates [[leakageSafeSplit]]: under the NAIVE
    * per-document [[hashSplit]], how many near-duplicate pairs straddle a
    * split boundary? Each such pair is evaluation contamination — the
    * model meets a paraphrase of a training document at test time. Output
    * is one row per unordered split pair with the pair count and a
    * `leaks` flag (off-diagonal = contamination); run it before accepting
    * any split that wasn't cluster-keyed.
    *
    * Scale: the pair set is the LSH-candidate-scoped near-dup output
    * (never O(n²)); splits are recomputed per id (map-only hash, nothing
    * stored), and the two lookups join on doc id.
    */
  def splitLeakageAudit(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      trainPct: Int = 80, valPct: Int = 10, seed: Int = 0,
      minJaccard: Double = 0.7): DataFrame = {
    val split = hashSplit(docs, idCol, trainPct, valPct, seed)
      .select(col(idCol), col("split"))
    val pairs = Dedup.nearDuplicates(docs, textCol, idCol, minJaccard)
      .select("id_a", "id_b")
    pairs
      .join(split.select(col(idCol).as("id_a"), col("split").as("s_a")), Seq("id_a"))
      .join(split.select(col(idCol).as("id_b"), col("split").as("s_b")), Seq("id_b"))
      .groupBy(
        least(col("s_a"), col("s_b")).as("split_a"),
        greatest(col("s_a"), col("s_b")).as("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaks", col("split_a") =!= col("split_b"))
  }

  /** Weighted systematic resampling, fully deterministic: rows are laid on
    * a line in stable-hash order, each covering its weight in integer
    * positions; m equally-spaced thresholds (stride ⌊W/m⌋, offset
    * ⌊W/2m⌋) pick the sample, and a row's multiplicity is the exact count
    * of thresholds inside its interval — the particle-filter/mixture-
    * construction sampler (Σ multiplicities = m, rows with weight > stride
    * can repeat, zero RNG state, identical on every engine).
    *
    * Scale: the prefix sum is two-level — 64 hash-range buckets compute
    * local cumulative weights independently and a 64-row bucket-total
    * prefix provides carry-ins (the same sweep discipline as
    * ops.Concurrency) — so no global per-row window ever sorts the
    * corpus in one task.
    */
  def systematicSample(
      df: DataFrame, idCol: String, weight: Column, m: Long,
      seed: Int = 9): DataFrame = {
    require(m > 0, s"sample size must be positive, got $m")
    val base = df.select(col(idCol), weight.cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("__h", Dedup.stableHash(col(idCol), seed))
      .withColumn("__b", ExactMath.floorDiv(col("__h"), lit(1L << 54)))
    val localW = Window.partitionBy(col("__b"))
      .orderBy(col("__h").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = base.withColumn("__lc", sum(col("w")).over(localW))
    val carryW = Window.orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = base.groupBy(col("__b")).agg(sum(col("w")).as("__t"))
      .withColumn("__carry", coalesce(sum(col("__t")).over(carryW), lit(0L)))
      .drop("__t")
    val tot = base.agg(sum(col("w")).cast("long").as("__tw"))
    def thresholdsUpTo(x: Column, off: Column, stride: Column): Column =
      least(greatest(ExactMath.floorDiv(x - off, stride) + 1L, lit(0L)), lit(m))
    local.join(carries, Seq("__b"))
      .withColumn("cum", col("__carry") + col("__lc"))
      .crossJoin(broadcast(tot))
      .withColumn("__stride", ExactMath.floorDiv(col("__tw"), lit(m)))
      .withColumn("__off", ExactMath.floorDiv(col("__tw"), lit(2L * m)))
      .withColumn("n_copies",
        (thresholdsUpTo(col("cum") - 1L, col("__off"), col("__stride")) -
          thresholdsUpTo(col("cum") - col("w") - 1L, col("__off"), col("__stride")))
          .cast("long"))
      .filter(col("n_copies") > 0L)
      .select(col(idCol), col("w"), col("cum"), col("n_copies"))
  }

  /** Class-balancing resampling weights over the cells of a grouping (all
    * `cellCols` combinations present in the data): w = N/(n_cell·K) as a
    * 2²⁰ fixed-point integer — sampling with these weights makes every
    * cell contribute equal mass (the inverse-frequency reweighting used to
    * stop a head language/source from owning the training mix). A capped
    * variant (≤ 10×) bounds how hard any tiny tail cell can be
    * upsampled — unbounded inverse weights turn single-digit cells into
    * noise amplifiers. Rows with a null cell key are excluded.
    *
    * Scale: one map-side-combined cell count (K rows) cross-joined with
    * the 1-row total — the corpus is scanned once.
    */
  def balanceWeights(df: DataFrame, cellCols: Seq[String]): DataFrame = {
    require(cellCols.nonEmpty, "need at least one cell column")
    val cells = df.filter(cellCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(cellCols.map(col): _*).agg(count(lit(1)).as("n"))
    val tot = cells.agg(
      sum(col("n")).cast("long").as("n_total"), count(lit(1)).as("k_cells"))
    cells.crossJoin(broadcast(tot))
      .withColumn("w_fp", ExactMath.floorDiv(
        col("n_total").cast("decimal(38,0)") * lit(1048576L),
        col("n") * col("k_cells")))
      .withColumn("w_capped_fp", least(col("w_fp"), lit(10L * 1048576L)))
  }

  /** Contrastive training pairs from the corpus itself: positives are the
    * verified near-duplicate pairs (LSH candidates + exact Jaccard ≥
    * `minJaccard` — real paraphrase/boilerplate variation), negatives are
    * deterministic hash-adjacent pairings (per group, rows ordered by
    * stable hash and mated odd→even — an unbiased "random pair" that is
    * reproducible across engines and runs), with any accidental near-dup
    * anti-joined out of the negative set. The output (id_a, id_b, label)
    * feeds embedding/similarity-model training directly.
    *
    * Scale: positives are candidate-scoped (never O(n²)); negatives are
    * one per-group window plus an anti-join against the (small) positive
    * set. Pairs are least/greatest-normalized.
    */
  def contrastivePairs(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      groupCol: String = "source", minJaccard: Double = 0.5,
      seed: Int = 7): DataFrame = {
    val pos = Dedup.nearDuplicates(docs, textCol, idCol, minJaccard)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .withColumn("label", lit(1))
    val order = Window.partitionBy(col(groupCol))
      .orderBy(Dedup.stableHash(col(idCol), seed).asc, col(idCol).asc)
    val neg = docs.select(col(idCol), col(groupCol))
      .withColumn("__rn", row_number().over(order))
      .withColumn("__mate", lead(col(idCol), 1).over(order))
      .filter(col("__rn") % 2 === 1 && col("__mate").isNotNull)
      .select(least(col(idCol), col("__mate")).as("id_a"),
        greatest(col(idCol), col("__mate")).as("id_b"))
      .join(pos.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
      .withColumn("label", lit(0))
    pos.select("id_a", "id_b", "label").unionByName(neg)
  }

  /** Exact-count per-group split: within each group, rows are ordered by
    * (stable hash, id) and the first ⌊n_g·trainPct/100⌋ become train, the
    * next slice val, the rest test — [[hashSplit]]'s proportions are only
    * expected values, this variant GUARANTEES them per group (±1 row),
    * which is what a per-language eval set with a hard size contract
    * needs. Still deterministic and engine-portable (the order key is the
    * md5-derived stable hash), but no longer a pure per-row function: a
    * group's membership shifts when the group changes.
    *
    * Cutoffs are cross-multiplied (rn·100 ≤ n_g·pct) — no division at
    * all. Scale: one per-group rank window; nothing global.
    */
  def exactGroupSplit(
      df: DataFrame, idCol: String, groupCol: String,
      trainPct: Int = 80, valPct: Int = 10, seed: Int = 0): DataFrame = {
    require(trainPct + valPct < 100, "train+val must leave room for test")
    val g = col(groupCol)
    df.select(col(idCol), g)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(g).orderBy(
          Dedup.stableHash(col(idCol), seed).asc, col(idCol).asc)))
      .withColumn("__ng", count(lit(1)).over(Window.partitionBy(g)))
      .select(col(idCol), g,
        when(col("__rn") * 100 <= col("__ng") * trainPct, "train")
          .when(col("__rn") * 100 <= col("__ng") * (trainPct + valPct), "val")
          .otherwise("test").as("split"))
  }

  /** Split representativeness (E165): does every stratum (language, source,
    * label) appear in train/val/test at its corpus-wide rate? Per
    * (split, stratum) cell the report carries the exact deviation from
    * independence dev_num = n_cell·N − n_split·n_stratum (0 everywhere ⟺
    * perfectly stratified) — the post-split QA a leaderboard-bound eval
    * set runs before anyone trusts a val metric. Uses the same
    * [[hashSplit]] the pipeline ships, so the audit measures the REAL
    * splitter, not an idealized one.
    *
    * Scale: one hash aggregation to ≤ 3·|strata| cells plus two marginal
    * reductions over those cells.
    */
  def splitRepresentativeness(
      df: DataFrame, idCol: String, stratumCol: String,
      trainPct: Int = 80, valPct: Int = 10, seed: Int = 0): DataFrame = {
    val withSplit = hashSplit(df, idCol, trainPct, valPct, seed)
      .select(col("split"), col(stratumCol).as("stratum"))
      .filter(col("stratum").isNotNull)
    val cells = withSplit.groupBy("split", "stratum").agg(count(lit(1)).as("n_cell"))
    val splits = cells.groupBy("split").agg(sum(col("n_cell")).as("n_split"))
    val strata = cells.groupBy("stratum").agg(sum(col("n_cell")).as("n_stratum"))
    val total = cells.agg(sum(col("n_cell")).as("n"))
    cells.join(splits, "split").join(strata, "stratum").crossJoin(broadcast(total))
      .select(
        col("split"), col("stratum"), col("n_cell"),
        col("n_split").cast("long").as("n_split"),
        col("n_stratum").cast("long").as("n_stratum"),
        (col("n_cell") * col("n") - col("n_split") * col("n_stratum")).cast("long")
          .as("dev_num"))
  }

  /** Hash-bucket uniformity audit (E154): every deterministic gate in this
    * library (splits, subsamples, epoch shuffles) assumes
    * stableHash(id) mod B is uniform over the ACTUAL id population — this
    * measures it. Ids bucket into B cells; the report is the exact
    * chi-square numerator
    *
    *   chi2_num = Σ_b (o_b·B − n)²      (uniform ⇒ E[chi2_num] = B²·n·(B−1)/B)
    *
    * plus min/max occupancy, as DECIMAL-exact integers (o_b·B − n squares
    * overflow int64 at corpus scale). Compare chi2_num against
    * B²·n·χ²_crit/B-style thresholds offline; a skewed id scheme (e.g.
    * all ids ≡ 0 mod 4) shows up as a 10×+ inflation. Scale: one hash
    * aggregation to B rows, one 1-row reduce.
    */
  def hashUniformity(
      df: DataFrame,
      idCol: String,
      buckets: Int = 100,
      seed: Int = 9): DataFrame = {
    require(buckets > 1, "need at least 2 buckets")
    val dec = "decimal(38,0)"
    val b = df.select(
        pmod(graft.ext.Dedup.stableHash(col(idCol), seed), lit(buckets.toLong)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("o"))
    val tot = b.agg(sum(col("o")).cast("long").as("n"),
      count(lit(1)).cast("long").as("n_buckets_used"),
      min(col("o")).cast("long").as("min_bucket"),
      max(col("o")).cast("long").as("max_bucket"))
    val dev = b.crossJoin(tot.select(col("n")))
      .select(((col("o") * buckets - col("n")).cast(dec) *
        (col("o") * buckets - col("n")).cast(dec)).as("sq"))
      .agg(sum(col("sq")).cast(dec).as("chi2_occ"))
    // empty buckets each contribute (0·B − n)² = n²; reporting as long
    // bounds the audit at ~3·10⁹ ids per call (n²·B < 2⁶³) — shard the
    // audit beyond that
    tot.crossJoin(dev)
      .select(col("n"), col("n_buckets_used"), col("min_bucket"),
        col("max_bucket"),
        (col("chi2_occ") +
          (lit(buckets.toLong) - col("n_buckets_used")).cast(dec) *
            col("n").cast(dec) * col("n").cast(dec))
          .cast("long").as("chi2_num"))
  }

  /** Shard-balance audit (E190): per-shard doc and token mass under the
    * deterministic hash sharding a corpus writer would use — the balance
    * check BEFORE publishing N shard files. [[hashUniformity]] audits the
    * hash's bucket-count uniformity; this audits the masses that actually
    * cost (docs AND tokens, since doc sizes vary), with an exact signed
    * deviation per shard: dev_num = n_tokens·S − total (zero ⟺ exactly
    * the mean share). Every shard 0..S−1 gets a row — a shard that
    * received NOTHING (the worst imbalance this audit exists to catch)
    * reports (0, 0, −total) instead of being silently absent.
    *
    * Scale: one hash aggregation to ≤ S rows; the 0..S−1 frame is a
    * literal and totals attach as a 1-row broadcast aggregate.
    */
  def shardBalance(
      docs: DataFrame,
      nShards: Int = 32,
      idCol: String = "doc_id",
      tokensCol: Column = size(split(col("text"), " ")).cast("long"),
      seed: Int = 11): DataFrame = {
    require(nShards > 0, "need at least 1 shard")
    val spark = docs.sparkSession
    import spark.implicits._
    val perShard = docs.select(
        pmod(graft.ext.Dedup.stableHash(col(idCol), seed), lit(nShards.toLong)).as("shard"),
        tokensCol.as("__tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).cast("long").as("n_tokens"))
    val tot = perShard.agg(coalesce(sum(col("n_tokens")), lit(0L))
      .cast("long").as("__total"))
    (0L until nShards.toLong).toDF("shard")
      .join(perShard, Seq("shard"), "left")
      .crossJoin(broadcast(tot))
      .select(col("shard"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0L)) * nShards - col("__total"))
          .as("dev_num"))
  }

  /** Source-cap planning by exact integer waterfilling (E192): the largest
    * level L such that capping every source's token mass at L stays within
    * the budget — "no single feed dominates" without hand-picked caps.
    * With sources sorted by mass asc (ties by name), inclusive prefix
    * sums c_r, and S sources, the segment-r spend model
    * c_r + (S−r)·L only OVERestimates the true spend (sources above r
    * with mass < L contribute less), so every candidate
    * (B − c_r) div (S − r) is feasible and the max over r (plus the
    * all-capped base B div S) is exactly the optimum. A budget at or
    * above the total keeps everything (level = max mass). Output per
    * source: mass, the shared level, cap = min(mass, L), trimmed mass.
    *
    * Scale: runs on the per-source aggregate (|sources| rows) — the
    * window sorts feeds, never documents; corpus cost is the one
    * token-mass aggregation.
    */
  def capSources(
      docs: DataFrame,
      budgetTokens: Long,
      sourceCol: String = "source",
      tokensCol: Column = size(split(col("text"), " ")).cast("long")): DataFrame = {
    require(budgetTokens >= 0, "budget must be non-negative")
    val m = docs.groupBy(col(sourceCol).as("source"))
      .agg(sum(tokensCol).cast("long").as("n_tokens"))
    val w = Window.orderBy(col("n_tokens").asc, col("source").asc)
    val ranked = m
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("c", sum(col("n_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val sRow = m.agg(count(lit(1)).cast("long").as("s"),
      sum(col("n_tokens")).cast("long").as("total"), max(col("n_tokens")).as("mx"))
    val lvl = ranked.crossJoin(broadcast(sRow))
      .select(col("s"), col("total"), col("mx"),
        when(col("r") < col("s") && col("c") <= budgetTokens,
          ExactMath.floorDiv(lit(budgetTokens) - col("c"), col("s") - col("r")))
          .as("cand"))
      .groupBy("s", "total", "mx")
      .agg(max(col("cand")).as("maxcand"))
      .select(when(col("total") <= budgetTokens, col("mx"))
        .otherwise(greatest(
          coalesce(col("maxcand"), lit(0L)),
          ExactMath.floorDiv(lit(budgetTokens), col("s"))))
        .cast("long").as("level"))
    m.crossJoin(broadcast(lvl))
      .select(col("source"), col("n_tokens"), col("level"),
        least(col("n_tokens"), col("level")).as("cap_tokens"),
        (col("n_tokens") - least(col("n_tokens"), col("level"))).as("trimmed_tokens"))
  }

  /** Source-concentration report (E193): Herfindahl–Hirschman index of the
    * token mass across sources in exact 2²⁰ fixed point —
    * hhi_fp = ⌊Σ m_s² · 2²⁰ / total²⌋, 2²⁰/S at perfect balance, 2²⁰ when
    * one source is everything — plus the top source and its share. The
    * one-number companion of [[capSources]]: HHI says WHETHER the mix is
    * concentrated, waterfilling says what cap fixes it.
    *
    * Scale: one token-mass aggregation to |sources| rows, then a 1-row
    * reduce (DECIMAL(38) squares — Σm² overflows int64 at corpus scale).
    */
  def sourceConcentration(
      docs: DataFrame,
      sourceCol: String = "source",
      tokensCol: Column = size(split(col("text"), " ")).cast("long")): DataFrame = {
    val dec = "decimal(38,0)"
    val m = docs.groupBy(col(sourceCol).as("source"))
      .agg(sum(tokensCol).cast("long").as("m"))
    val top = m.orderBy(col("m").desc, col("source").asc).limit(1)
      .select(col("source").as("top_source"), col("m").as("top_tokens"))
    val agg = m.agg(
      count(lit(1)).cast("long").as("n_sources"),
      sum(col("m")).cast("long").as("total_tokens"),
      sum(col("m").cast(dec) * col("m").cast(dec)).cast(dec).as("__sumsq"))
    agg.crossJoin(broadcast(top))
      .select(
        col("n_sources"), col("total_tokens"), col("top_source"), col("top_tokens"),
        when(col("total_tokens") > 0L,
          ExactMath.floorDiv(col("__sumsq") * lit(1048576L).cast(dec),
            col("total_tokens").cast(dec) * col("total_tokens").cast(dec)))
          .otherwise(0L).cast("long").as("hhi_fp"),
        when(col("total_tokens") > 0L,
          ExactMath.floorDiv(col("top_tokens") * lit(1048576L), col("total_tokens")))
          .otherwise(0L).cast("long").as("top_share_fp"))
  }
}
