package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training-batch assembly: documents are laid out in
  * a fixed global order (by id) and cut into contiguous `capacity`-token
  * bins — each document's bin is the bin its START offset falls in (the
  * greedy contiguous-fill approximation; a straddling document stays with
  * its start bin, matching how packed-sequence writers emit).
  *
  * The global running offset is a DISTRIBUTED prefix sum, not a
  * single-partition window: ids are statically bucketed (`id div
  * bucketSize` — deterministic, no range-sampling), each bucket's token sum
  * aggregates map-side, the tiny bucket-sum table turns into per-bucket
  * starting offsets with one small window, and offsets broadcast-join back
  * onto the rows, where a per-bucket window finishes the cumsum. No stage
  * ever moves more than one bucket through one task, so the layout scales
  * to any corpus; only the bucket-sum table (|ids| / bucketSize rows) is
  * windowed globally — pick bucketSize so that table stays millions, and
  * recurse the same trick if it ever doesn't.
  *
  * Offsets go through decimal, not double, division (exact past 2⁵³ — a
  * 100 TB corpus is ~2⁴⁵ tokens, but the discipline is free).
  */
object Packing {

  /** One row per bin: bin, n_docs, total_tokens, fill_ratio. `weightCol`
    * must be a non-negative integral token count; `idCol` an integral id
    * defining the pack order.
    */
  /** The distributed global prefix sum every packing surface shares:
    * (id, w, cum) with `cum` the inclusive running token total in id
    * order, built bucket-wise as described above.
    */
  private[ops] def withGlobalCum(
      docs: DataFrame, idCol: String, weightCol: String,
      bucketSize: Int): DataFrame = {
    val bucket = floor(col(idCol).cast("decimal(25,0)") / bucketSize).cast("long")
    val rows = docs.select(
      col(idCol).as("id"), col(weightCol).cast("long").as("w"), bucket.as("b"))
    val offsets = rows
      .groupBy("b")
      .agg(sum(col("w")).as("bsum"))
      .withColumn("offset",
        coalesce(
          sum(col("bsum")).over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .drop("bsum")
    val local = Window.partitionBy("b").orderBy("id")
    rows
      .join(broadcast(offsets), "b")
      .withColumn("cum", col("offset") + sum(col("w")).over(local))
      .select(col("id"), col("w"), col("cum"))
  }

  def packGreedy(
      docs: DataFrame,
      idCol: String,
      weightCol: String,
      capacity: Long,
      bucketSize: Int = 1024): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    withGlobalCum(docs, idCol, weightCol, bucketSize)
      .withColumn("bin",
        floor((col("cum") - col("w")).cast("decimal(25,0)") / capacity).cast("long"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("w")).as("total_tokens"),
        (sum(col("w")).cast("double") / lit(capacity.toDouble)).as("fill_ratio"))
  }

  /** Packing-capacity operating curve (E206): the cost of laying the
    * corpus out as ONE contiguous token stream chunked at each candidate
    * context-window capacity — the report that picks the training
    * sequence length before a run commits to it. Per capacity, all exact:
    * bin count ⌈total/cap⌉, straddle count (documents crossing ≥ 1 bin
    * boundary — the rows a no-cross-attention packer must mask), split
    * count (total extra fragments those crossings create, Σ endBin −
    * startBin), wasted tokens (the tail bin's remainder — every interior
    * bin of a contiguous stream is full by construction), and the 2²⁰
    * fixed-point fill factor.
    *
    * The per-START-bin formulation (sum tokens of docs starting in each
    * bin, waste = Σ max(0, cap − that sum)) is NOT this number: a doc
    * longer than the capacity makes its start bin report > 100 % fill
    * while the bins it covers go uncounted. Interval arithmetic on the
    * shared prefix sum gives the true occupancy with no per-bin pass at
    * all.
    *
    * Scale: the prefix sum runs once (bucketed, map-side, broadcast
    * offsets); capacities fan out as a ≤|capacities| explode and ONE hash
    * aggregation keyed by capacity follows — nothing keyed by bin, whose
    * cardinality grows with the corpus. Bin division uses exact integer
    * floorDiv, never decimal-rounded division.
    */
  def packingCurve(
      docs: DataFrame,
      idCol: String,
      weightCol: String,
      capacities: Seq[Long] = Seq(512L, 1024L, 2048L, 4096L, 8192L),
      bucketSize: Int = 1024): DataFrame = {
    require(capacities.nonEmpty && capacities.forall(_ > 0),
      "capacities must be positive")
    import graft.ext.ExactMath.floorDiv
    val agg = withGlobalCum(docs, idCol, weightCol, bucketSize)
      .withColumn("capacity", explode(typedlit(capacities)))
      .withColumn("startBin", floorDiv(col("cum") - col("w"), col("capacity")))
      .withColumn("endBin", floorDiv(col("cum") - 1L, col("capacity")))
      .withColumn("splits",
        when(col("w") > 0L, col("endBin") - col("startBin")).otherwise(0L))
      .groupBy("capacity")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("w")).cast("long").as("total_tokens"),
        sum(when(col("splits") > 0L, 1L).otherwise(0L)).cast("long")
          .as("n_straddle"),
        sum(col("splits")).cast("long").as("n_splits"))
    val nBins = when(col("total_tokens") > 0L,
      floorDiv(col("total_tokens") - 1L, col("capacity")) + 1L).otherwise(0L)
    agg
      .withColumn("n_bins", nBins)
      .select(col("capacity"), col("n_bins"), col("n_docs"), col("n_straddle"),
        col("n_splits"), col("total_tokens"),
        (col("n_bins") * col("capacity") - col("total_tokens")).as("wasted_tokens"),
        when(col("n_bins") > 0L,
          floorDiv(col("total_tokens") * lit(1048576L),
            col("n_bins") * col("capacity"))).otherwise(0L)
          .cast("long").as("fill_fp"))
  }

  /** Padding-efficiency report (E144): bucket sequences by
    * power-of-two length (the standard length-bucketed batching layout) and
    * report, per bucket, how many pad tokens that bucket costs when every
    * sequence is padded to the bucket cap — the report that decides bucket
    * granularity before a training run burns compute on padding.
    *
    * Bucket cap = max(minBucket, 2^⌈log₂ w⌉), computed with integer bit
    * arithmetic (`length(bin(w−1))`), never float log — exact in both
    * engines at any magnitude. Rows with w ≤ 0 are dropped.
    *
    * Scale: map-only projection + one hash aggregation to ≤ log₂(maxLen)
    * rows.
    */
  def paddingEfficiency(
      docs: DataFrame,
      weightCol: String,
      minBucket: Long = 16L): DataFrame = {
    require(minBucket >= 2 && (minBucket & (minBucket - 1)) == 0,
      "minBucket must be a power of two >= 2")
    val w = col(weightCol).cast("long")
    docs.filter(w > 0)
      .select(w.as("w"))
      // shiftleft's column-arg form only exists in SQL; the bit-length trick
      // (length(bin(w−1))) is exact where float log2 is not
      .withColumn("bucket_cap",
        greatest(lit(minBucket), expr("shiftleft(CAST(1 AS BIGINT), length(bin(w - 1)))")))
      .select(col("bucket_cap"), col("w"))
      .groupBy("bucket_cap")
      .agg(
        count(lit(1)).as("n_seqs"),
        sum(col("w")).cast("long").as("total_tokens"))
      .select(
        col("bucket_cap").cast("long").as("bucket_cap"),
        col("n_seqs"), col("total_tokens"),
        (col("n_seqs") * col("bucket_cap")).cast("long").as("padded_tokens"),
        (col("n_seqs") * col("bucket_cap") - col("total_tokens")).cast("long")
          .as("pad_waste"),
        graft.ext.ExactMath.floorDiv(
          col("total_tokens") * lit(1048576L),
          col("n_seqs") * col("bucket_cap")).as("eff_fp"))
  }

  /** Deterministic epoch shuffle + token-budget cut: documents take a
    * pseudo-random but fully reproducible order (md5-hash of the id,
    * seeded — a different seed is a different epoch), and the epoch keeps
    * the prefix of that order whose cumulative token count fits `budget`.
    * Both the global rank and the running token total come from the same
    * distributed prefix-sum layout as [[packGreedy]], with the hash value
    * itself as the static bucket key (uniform by construction — no
    * range sampling, no skew): per-bucket sums aggregate map-side, the
    * small bucket table is windowed once, offsets broadcast back.
    *
    * Output: (id, epoch_rank, cum_tokens, kept) — the epoch manifest a
    * trainer materializes or streams from.
    */
  def epochSample(
      docs: DataFrame,
      idCol: String,
      weightCol: String,
      budget: Long,
      seed: Int = 0): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    // 60-bit hash → 2¹⁶ static buckets of width 2⁴⁴
    val h = graft.ext.Dedup.stableHash(col(idCol), seed)
    val rows = docs.select(
      col(idCol).as("id"), col(weightCol).cast("long").as("w"), h.as("h"),
      graft.ext.ExactMath.floorDiv(h, lit(1L << 44)).as("b"))
    val offsets = rows
      .groupBy("b")
      .agg(sum(col("w")).as("bsum"), count(lit(1)).as("bcnt"))
      .withColumn("woff",
        coalesce(
          sum(col("bsum")).over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("roff",
        coalesce(
          sum(col("bcnt")).over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .drop("bsum", "bcnt")
    val local = Window.partitionBy("b").orderBy(col("h"), col("id"))
    rows
      .join(broadcast(offsets), "b")
      .withColumn("cum_tokens", col("woff") + sum(col("w")).over(local))
      .withColumn("epoch_rank", col("roff") + row_number().over(local))
      .withColumn("kept", col("cum_tokens") <= budget)
      .select(col("id").as(idCol), col("epoch_rank").cast("long").as("epoch_rank"),
        col("cum_tokens"), col("kept"))
  }
}
