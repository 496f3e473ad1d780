package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable sketches for 100 TB-scale pipelines: Bloom-filter join
  * pruning, count–min heavy-hitter estimation, and HyperLogLog-style
  * distinct registers. All three share one design:
  *
  *   - the sketch STATE is a small DataFrame (≤ a few thousand rows) built
  *     with plain hash-aggregations — partial aggregation combines map-side,
  *     so building over 100 TB shuffles only (cell, partial) pairs, never
  *     data rows;
  *   - the state is associative + commutative (bit-union / cell-sum /
  *     register-max), so shards sketch independently and merge by the same
  *     groupBy — the incremental / distributed-build path is the same code;
  *   - probing broadcasts the sketch and stays map-side: the big side is
  *     never shuffled (the whole point of a Bloom prune before a join);
  *   - hashing is `Dedup.stableHash` (md5-prefix), so every bit position,
  *     cell index and register value is reproducible in any engine — the
  *     DuckDB oracle recomputes the sketches from scratch and hash-matches.
  *
  * Production note: Spark's own runtime Bloom pruning
  * (`spark.sql.optimizer.runtimeFilter.bloomFilter.enabled`) and
  * `df.stat.bloomFilter` cover the adaptive case; this module is for when
  * the filter must be *persisted, merged across runs, or replayed
  * deterministically* (e.g. an incremental ingest gate), which the
  * engine-internal sketches don't expose.
  */
object Sketches {

  // ------------------------------------------------------------------
  // Bloom filter
  // ------------------------------------------------------------------

  /** The k bit positions of a key: pos_i = stableHash(key, seed+i) mod m. */
  def bloomBits(
      key: Column, m: Int, k: Int, seed: Int = 31): Column =
    array((0 until k).map(i =>
      pmod(Dedup.stableHash(key, seed + i), lit(m.toLong))): _*)

  /** Build the filter over the (small) build side: the distinct set bits,
    * one row each — ≤ m rows regardless of input size, mergeable by
    * `union.distinct`. Stored as rows (not a packed bitmask) so the state
    * is engine-portable and trivially mergeable; pack into a bitmask
    * `Expression` only if the broadcast ever measures as the bottleneck
    * (m is a few KB — it won't).
    */
  def bloomBuild(
      build: DataFrame,
      keyCol: String,
      m: Int,
      k: Int,
      seed: Int = 31): DataFrame =
    build
      .select(col(keyCol).cast("string").as("__k")).distinct()
      .select(explode(bloomBits(col("__k"), m, k, seed)).as("bloom_bit"))
      .distinct()

  /** Keep only probe rows whose key MIGHT be in the filter (all k bits
    * set). The filter collapses to ONE array row, is broadcast, and the
    * predicate runs map-side — the probe side is never shuffled. False
    * positives pass (by design); follow with the exact join.
    */
  def bloomPrune(
      probe: DataFrame,
      keyCol: String,
      bloom: DataFrame,
      m: Int,
      k: Int,
      seed: Int = 31): DataFrame = {
    // Pack the ≤m set-bit rows into ⌈m/64⌉ longs ONCE (one-row aggregate,
    // interpreted HOFs are fine at that cardinality), broadcast the mask,
    // and probe each of the k bits with element_at + bit arithmetic — O(1)
    // per bit. The previous array_contains formulation scanned the whole
    // set-bit array per bit per row (~m·k interpreted comparisons per probe
    // row — measured 8 s at sf0.1 where this takes a scan-bound fraction
    // of a second).
    val nWords = (m + 63) / 64
    val mask = bloom.agg(collect_set(col("bloom_bit")).as("__bits"))
      .select(transform(
        sequence(lit(0L), lit((nWords - 1).toLong)),
        w => aggregate(
          filter(col("__bits"), b => shiftright(b, 6) === w),
          lit(0L),
          (acc, b) => acc.bitwiseOR(
            call_function("shiftleft", lit(1L), pmod(b, lit(64L)).cast("int")))))
        .as("__mask"))
    val checks = (0 until k).map { i =>
      val b = pmod(graft.ext.Dedup.stableHash(col(keyCol), seed + i), lit(m.toLong))
      element_at(col("__mask"), (shiftright(b, 6) + 1).cast("int"))
        .bitwiseAND(
          call_function("shiftleft", lit(1L), pmod(b, lit(64L)).cast("int"))) =!= lit(0L)
    }
    probe
      .crossJoin(broadcast(mask))
      .where(checks.reduce(_ && _))
      .drop("__mask")
  }

  /** One-row effectiveness report for a bloom-pruned join: how many probe
    * rows the filter admits vs how many truly match — the number a 100 TB
    * operator needs before deciding to ship the filter to the scan.
    */
  def bloomPruneStats(
      build: DataFrame,
      buildKey: String,
      probe: DataFrame,
      probeKey: String,
      m: Int,
      k: Int,
      seed: Int = 31): DataFrame = {
    val bloom = bloomBuild(build, buildKey, m, k, seed)
    val pruned = bloomPrune(probe, probeKey, bloom, m, k, seed)
    val exact = probe.join(
      build.select(col(buildKey).as(probeKey)).distinct(), Seq(probeKey), "left_semi")
    bloom.agg(count(lit(1)).as("bits_set"))
      .crossJoin(probe.agg(count(lit(1)).as("probe_rows")))
      .crossJoin(pruned.agg(count(lit(1)).as("bloom_pass")))
      .crossJoin(exact.agg(count(lit(1)).as("exact_matches")))
      .select(
        lit(m.toLong).as("m"), lit(k.toLong).as("k"),
        col("bits_set"), col("probe_rows"), col("bloom_pass"), col("exact_matches"),
        (col("bloom_pass") - col("exact_matches")).as("false_positives"))
  }

  // ------------------------------------------------------------------
  // Count–min sketch
  // ------------------------------------------------------------------

  /** Build a depth×width count–min sketch over an item column: cell
    * (row_i, pos) sums the counts of every item hashing there. Items are
    * pre-counted (one map-side-combined shuffle on the item), then the ≤
    * depth·width cells aggregate — the sketch never exceeds depth·width
    * rows and merges with another sketch by summing matching cells.
    */
  def cmsBuild(
      items: DataFrame,
      itemCol: String,
      depth: Int,
      width: Int,
      seed: Int = 41): DataFrame = {
    val counts = items
      .groupBy(col(itemCol).cast("string").as("__item"))
      .agg(count(lit(1)).as("__cnt"))
    counts
      .select(explode(array((0 until depth).map(i => struct(
          lit(i).as("row_i"),
          pmod(Dedup.stableHash(col("__item"), seed + i), lit(width.toLong))
            .as("pos"))): _*)).as("__cell"),
        col("__cnt"))
      .groupBy(col("__cell.row_i").as("row_i"), col("__cell.pos").as("pos"))
      .agg(sum(col("__cnt")).cast("long").as("c"))
  }

  /** CMS error profile (E189): the DISTRIBUTION of the sketch's one-sided
    * overestimate across every distinct item — the sketch-health audit
    * behind [[cmsBuild]]'s (depth, width) defaults, the CMS analog of
    * q196's MinHash calibration. Per power-of-two error bucket
    * (0 = exact, else bit_length(err)): item count, total and max error.
    * Read it before trusting sketch counts at a new vocabulary size: the
    * mass above bucket 0 IS the collision rate at this width.
    *
    * One aggregation derives the exact counts; the sketch is built FROM
    * those counts (cell = Σ exact_cnt — exactly [[cmsBuild]]'s math), so
    * the item stream is scanned once, and estimation is the usual
    * broadcast-sketch min over depth cells.
    */
  def cmsErrorProfile(
      items: DataFrame,
      itemCol: String,
      depth: Int = 4,
      width: Int = 1024,
      seed: Int = 41): DataFrame = {
    // the md5 cell hashes (depth per distinct item, twice: sketch build +
    // estimate probe) run in the stages that read the count aggregate —
    // AQE coalesces that byte-light exchange to one task locally, so the
    // hash passes are spread explicitly (no-op at scale)
    val counts = Spread.byKeyPinned(
      items
        .groupBy(col(itemCol).cast("string").as("__item"))
        .agg(count(lit(1)).as("exact_cnt")),
      col("__item"))
    def cells(c: Column) = array((0 until depth).map(i => struct(
      lit(i).as("row_i"),
      pmod(Dedup.stableHash(c, seed + i), lit(width.toLong)).as("pos"))): _*)
    val sketch = counts
      .select(explode(cells(col("__item"))).as("__cell"), col("exact_cnt"))
      .groupBy(col("__cell.row_i").as("row_i"), col("__cell.pos").as("pos"))
      .agg(sum(col("exact_cnt")).cast("long").as("c"))
    val est = counts
      .select(col("__item"), col("exact_cnt"), explode(cells(col("__item"))).as("__cell"))
      .join(broadcast(sketch),
        col("__cell.row_i") === sketch("row_i") && col("__cell.pos") === sketch("pos"))
      .groupBy(col("__item"), col("exact_cnt"))
      .agg(min(col("c")).as("cms_estimate"))
    est
      .select((col("cms_estimate") - col("exact_cnt")).as("err"))
      .select(when(col("err") === 0L, lit(0L))
        .otherwise(length(bin(col("err"))).cast("long")).as("err_bucket"),
        col("err"))
      .groupBy("err_bucket")
      .agg(count(lit(1)).as("n_items"),
        sum(col("err")).cast("long").as("sum_err"),
        max(col("err")).cast("long").as("max_err"))
  }

  /** Merge two count–min sketches built with the same (depth, width, seed). */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("row_i", "pos").agg(sum(col("c")).cast("long").as("c"))

  /** Point-estimate each query item against the sketch: min over the depth
    * cells the item hashes to (the classic one-sided overestimate). The
    * sketch is broadcast; estimation is a map-side join + a groupBy on the
    * item only.
    */
  def cmsEstimate(
      queryItems: DataFrame,
      itemCol: String,
      sketch: DataFrame,
      depth: Int,
      width: Int,
      seed: Int = 41): DataFrame =
    queryItems
      .select(col(itemCol), explode(array((0 until depth).map(i => struct(
        lit(i).as("row_i"),
        pmod(Dedup.stableHash(col(itemCol), seed + i),
          lit(width.toLong)).as("pos"))): _*)).as("__cell"))
      .join(broadcast(sketch),
        col("__cell.row_i") === sketch("row_i") && col("__cell.pos") === sketch("pos"))
      .groupBy(col(itemCol))
      .agg(min(col("c")).as("cms_estimate"))

  // ------------------------------------------------------------------
  // HyperLogLog registers
  // ------------------------------------------------------------------

  /** Trailing-zero count of a non-negative long via its binary string —
    * integer-exact and identical in Spark and DuckDB (`bin` + `rtrim`),
    * unlike float log2.
    */
  private def trailingZeros(c: Column): Column =
    length(bin(c)) - length(rtrim(bin(c), "0"))

  /** HLL register table over a key column: bucket = h mod m, and the
    * register keeps max(rho) where rho−1 is the trailing-zero count of the
    * remaining hash bits (Flajolet's geometric observable). m rows max; a
    * groupBy-max, so partial aggregation combines map-side and two
    * register tables merge with [[hllMerge]]. Use
    * `approx_count_distinct` when only Spark needs the answer; this
    * variant exists for persisted / cross-engine / mergeable state.
    */
  def hllRegisters(
      df: DataFrame,
      keyCol: String,
      m: Int,
      seed: Int = 17): DataFrame = {
    require(m > 0 && (m & (m - 1)) == 0, "m must be a power of two")
    val h = Dedup.stableHash(col(keyCol), seed)
    df
      .select(pmod(h, lit(m.toLong)).as("bucket"),
        ExactMath.floorDiv(h, lit(m.toLong)).as("__rest"))
      .select(col("bucket"),
        least(trailingZeros(col("__rest")) + lit(1), lit(55)).as("__rho"))
      .groupBy("bucket")
      .agg(max(col("__rho")).cast("long").as("max_rho"))
  }

  /** Merge register tables (register-wise max) — the multi-shard /
    * incremental path.
    */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("bucket").agg(max(col("max_rho")).cast("long").as("max_rho"))

  /** Cardinality estimate from a register table (standard HLL harmonic
    * mean with the small-m alpha constants). The register table is
    * sketch-scale (m rows) by construction — collecting it is the point
    * of a sketch.
    */
  def hllEstimate(registers: DataFrame, m: Int): Double = {
    val regs = registers.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val harmonicSum = (0L until m.toLong).map(b =>
      math.pow(2.0, -regs.getOrElse(b, 0L).toDouble)).sum
    alpha * m * m / harmonicSum
  }

  private def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** Per-group HLL register tables: [[hllRegisters]] keyed by `groupCol` —
    * one m-row sketch per group value, all built in ONE map-side-combined
    * aggregation (the partitioned-sketch-state layout: distinct users per
    * source/day/shard without one query per group).
    */
  def hllRegistersBy(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      m: Int,
      seed: Int = 17): DataFrame = {
    require(m > 0 && (m & (m - 1)) == 0, "m must be a power of two")
    val h = Dedup.stableHash(col(keyCol), seed)
    df
      .select(col(groupCol), pmod(h, lit(m.toLong)).as("bucket"),
        ExactMath.floorDiv(h, lit(m.toLong)).as("__rest"))
      .select(col(groupCol), col("bucket"),
        least(trailingZeros(col("__rest")) + lit(1), lit(55)).as("__rho"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("__rho")).cast("long").as("max_rho"))
  }

  /** Engine-side raw HLL estimate per group, hash-exact across engines:
    * the harmonic sum Σ 2^(−M_j) is computed as the INTEGER
    * Σ 2^(55−M_j) (every term exact, addition order-free — a direct
    * double sum would round once the 2^6..2^−55 bit span exceeds the
    * mantissa and the result would depend on aggregation order), absent
    * buckets contribute 2^55 each, and one final double multiply/divide
    * produces αm²·2^55/S. Raw estimate only — the small-range linear
    * counting correction needs ln(), which is not bit-portable; the
    * n_zero_registers column is emitted so callers can decide to apply it.
    */
  /** Set-operation estimates from TWO register tables built with the same
    * (m, seed): cardinalities of A, B, A∪B (register-wise max merge — the
    * union sketch is exact-as-a-sketch), then inclusion–exclusion for
    * |A∩B| and a Jaccard estimate. The question sketches answer without a
    * data-scale join: "how many keys do these shards/days/sources share".
    *
    * Portability discipline matches [[hllRawEstimateBy]]: per-sketch state
    * reduces to the INTEGER harmonic sum Σ 2^(55−M_j) (order-free, exact);
    * every double is then derived from those integers in one fixed
    * expression-tree order (divisions, one subtraction chain, a final
    * ROUND) — IEEE-identical across engines. Intersection is clamped at 0
    * (inclusion–exclusion on estimates can go negative for disjoint sets).
    * All three state rows are sketch-scale; the cross joins are 1×1×1.
    */
  def hllSetOps(regsA: DataFrame, regsB: DataFrame, m: Int): DataFrame = {
    val big = 1L << 55
    def state(regs: DataFrame, tag: String) = regs.agg(
      count(lit(1)).as(s"present_$tag"),
      sum(call_function("shiftleft", lit(1L), (lit(55L) - col("max_rho")).cast("int")))
        .cast("long").as(s"si_$tag"))
    def est(tag: String): Column =
      lit(hllAlpha(m) * m * m) * lit(big.toDouble) /
        (col(s"si_$tag") + (lit(m.toLong) - col(s"present_$tag")) * lit(big))
          .cast("double")
    val joined = state(regsA, "a")
      .crossJoin(state(regsB, "b"))
      .crossJoin(state(hllMerge(regsA, regsB), "u"))
    val inter = greatest(lit(0.0), est("a") + est("b") - est("u"))
    joined.select(
      round(est("a"), 4).as("est_a"),
      round(est("b"), 4).as("est_b"),
      round(est("u"), 4).as("est_union"),
      round(inter, 4).as("est_intersection"),
      round(inter / est("u"), 4).as("jaccard_est"))
  }

  /** Per-column HLL accuracy audit (E199): exact distinct count next to
    * the bit-portable raw HLL estimate for every listed column, with the
    * rounded estimate/exact ratio — the measured evidence behind routing
    * big profiles to sketches (profileAuto's switch): how far off IS the
    * sketch at m registers on THESE columns. Completes the sketch-health
    * trilogy (q196 MinHash calibration, q230 CMS error profile).
    *
    * Columns must cast to strings identically in both engines (integral,
    * string, date — the DataTester discipline). The stacked values reduce
    * to their DISTINCT (column, value) set FIRST and both sides run over
    * that: HLL registers are a max over per-value rhos, so duplicates
    * cannot change them — hashing raw rows would cost |rows|·|cols| md5s
    * for the identical registers (measured 7.6 s → sub-second at sf0.1).
    */
  def hllColumnAudit(
      df: DataFrame, cols: Seq[String], m: Int = 64, seed: Int = 17): DataFrame = {
    require(cols.nonEmpty, "hllColumnAudit needs at least one column")
    val spark = df.sparkSession
    import spark.implicits._
    // two explicit spreads, both structural no-ops at scale (leaf-split
    // guard): the |cols|-way explode + partial-distinct pass is the
    // heaviest stage and runs on the raw scan's few local splits, and the
    // md5 register pass downstream reads the distinct exchange that AQE
    // coalesces to one task locally
    val vals = Spread.byKeyPinned(
      Spread.byKeyPinned(
        df.select(cols.map(col): _*), struct(cols.map(col): _*))
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("column_name"), col(c).cast("string").as("v"))): _*)).as("p"))
        .select(col("p.column_name").as("column_name"), col("p.v").as("v"))
        .where(col("v").isNotNull)
        .distinct(),
      col("v"))
    val exact = vals.groupBy("column_name")
      .agg(count(lit(1)).as("exact_distinct"))
    val est = hllRawEstimateBy(
      hllRegistersBy(vals, "column_name", "v", m, seed), "column_name", m)
    // Drive the report from the REQUESTED column list, not the observed
    // values: a column whose values are all NULL must still appear (as
    // exact_distinct = 0, all m registers zero, null estimate fields) —
    // "not audited" and "all null" are different findings, and est_ratio
    // must not divide by an exact count of zero.
    cols.toDF("column_name")
      .join(exact, Seq("column_name"), "left")
      .join(est, Seq("column_name"), "left")
      .select(col("column_name"),
        coalesce(col("exact_distinct"), lit(0L)).as("exact_distinct"),
        coalesce(col("n_zero_registers"), lit(m.toLong)).as("n_zero_registers"),
        col("raw_estimate"),
        when(col("exact_distinct") > 0L,
          round(col("raw_estimate") / col("exact_distinct").cast("double"), 4))
          .as("est_ratio"))
  }

  def hllRawEstimateBy(
      registers: DataFrame, groupCol: String, m: Int): DataFrame = {
    val big = 1L << 55
    registers
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("__present"),
        sum(call_function("shiftleft", lit(1L), (lit(55L) - col("max_rho")).cast("int")))
          .cast("long").as("__si"))
      .select(
        col(groupCol),
        (lit(m.toLong) - col("__present")).as("n_zero_registers"),
        round(
          lit(hllAlpha(m) * m * m) * lit(big.toDouble) /
            (col("__si") + (lit(m.toLong) - col("__present")) * lit(big))
              .cast("double"),
          4).as("raw_estimate"))
  }
}
