package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec

/** Input-parallelism guard for expensive per-row passes (guide §2.5,
  * "input skew: one huge unsplittable file").
  *
  * A parquet file is splittable only at row-group boundaries, so a small
  * table written as one row group arrives as ONE scan partition — and any
  * costly map work stacked on the scan (shingling, minhash, per-asset codec
  * walks, quality metrics) runs serially on one core while the rest idle.
  * At 100 TB the same scan arrives as thousands of splits and needs no
  * help.
  *
  * The guard probes the LEAF FILE SCANS of the frame's physical plan, not
  * `df.rdd.getNumPartitions`: the RDD conversion reports the static
  * `spark.sql.shuffle.partitions` for any post-shuffle frame (pre-AQE), so
  * it both misreads the parallelism it is meant to probe and pays an extra
  * physical-plan compile. Leaf splits are the real signal — a query whose
  * inputs arrive in a handful of splits is in local-tiny mode; at cluster
  * scale every leaf has thousands of splits and the spread is a structural
  * no-op. Frames with no file-scan leaves (literal/local relations) are
  * never spread.
  *
  * Hash-by-key (not round-robin) keeps the assignment deterministic under
  * task retry (SPARK-38388 class of bugs) and skips round-robin's
  * sort-before-repartition.
  */
object Spread {
  private def fewLeafSplits(df: DataFrame): Boolean = {
    val sc = df.sparkSession.sparkContext
    val splits = df.queryExecution.sparkPlan.collectLeaves().collect {
      case f: FileSourceScanExec => f.inputRDD.getNumPartitions
    }
    splits.nonEmpty && splits.sum * 2 <= sc.defaultParallelism
  }

  def byKey(df: DataFrame, key: Column): DataFrame =
    if (fewLeafSplits(df)) df.repartition(key) else df

  /** byKey with the partition count pinned to the session parallelism, for
    * frames whose shuffle BYTES are tiny but whose downstream per-row work
    * is not (md5 sketch passes, dot-product joins, codec walks): a
    * keyless-count repartition there gets folded back to one task by AQE's
    * small-shuffle coalescing, re-serializing exactly the stage the spread
    * exists to parallelize. Still a structural no-op at scale (leaf-split
    * guard above).
    */
  def byKeyPinned(df: DataFrame, keys: Column*): DataFrame = byKeyPinned(df, df, keys: _*)

  /** [[byKeyPinned]] for a frame with no file-scan leaves of its own
    * (derived streams off a pinned frame): the operator probes its INPUT
    * frame `probe` and spreads `df` only when that input arrived in a
    * handful of splits. Same scale semantics as the guarded spreads —
    * thousands of input splits → never fires.
    */
  def byKeyPinned(probe: DataFrame, df: DataFrame, keys: Column*): DataFrame =
    if (fewLeafSplits(probe))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
    else df

  /** [[byKeyPinned]] with the local fan-out CAPPED below the session
    * parallelism, for allocation-heavy explode passes (gram/shingle
    * streams). Per-task CPU inflates with concurrent width on one box —
    * measured 0.75 → 9.2 CPU-s moving the winnow gram pass from 4 to 32
    * concurrent tasks (allocation-rate/memory-bandwidth contention, the
    * same signature as the PQ-training A/B) while wall plateaus across
    * 4–16 tasks and REGRESSES at full width — so the pin stops at
    * [[LocalCap]] tasks (never above the session parallelism). Still a
    * structural no-op at scale: the leaf-split guard only fires in
    * local-tiny mode.
    */
  def byKeyCapped(df: DataFrame, key: Column): DataFrame =
    if (fewLeafSplits(df))
      df.repartition(
        math.min(LocalCap, df.sparkSession.sparkContext.defaultParallelism), key)
    else df

  private val LocalCap = 8

  /** Lineage pin for a frame reused several times within ONE operator call.
    *
    * Local-tiny mode (few leaf splits): an eager localCheckpoint — cheap,
    * truncates the plan, and a single-machine bench has no executor-loss
    * exposure. At scale: NO pin. A corpus-sized localCheckpoint is
    * executor-local state with no recompute lineage (one lost executor
    * fails the whole job), and a CacheManager persist cannot be scoped to
    * the call — the entry outlives it and aliases identical plans across
    * later queries and runs (cross-run result reuse a bench must never
    * see). Re-running the (map-side / combine-friendly) subtree once per
    * consumer is the fault-tolerant trade.
    */
  def pinLocal(df: DataFrame): DataFrame =
    if (fewLeafSplits(df)) df.localCheckpoint() else df
}
