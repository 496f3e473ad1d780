package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus versioning diagnostics: what changed between two snapshots of the
  * same dataset — row-level membership/content diff and key-distribution
  * drift. The monitoring primitives a training-data pipeline runs before
  * promoting a new corpus freeze (did the language mix shift? how many
  * documents were silently rewritten?).
  *
  * Both operators are single full-outer equi-joins over per-key aggregates —
  * hash-partitioned, map-side combined, no broadcast of either snapshot —
  * so they run at any corpus size.
  */
object Drift {

  /** Row-level snapshot diff by content digest: one row per id present in
    * either snapshot, classified added / removed / changed / unchanged.
    * The digest folds the listed payload columns (order-sensitive,
    * null-safe via a reserved separator), so "changed" means any payload
    * column differs, not just presence.
    *
    * Scale: each side reduces to (id, 32-byte digest) at the scan — the
    * join never carries payloads — and the full-outer join shuffles on id.
    */
  def snapshotDiff(
      oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String, payloadCols: Seq[String]): DataFrame = {
    def digested(df: DataFrame, alias: String): DataFrame =
      df.select(
        col(idCol).as("id"),
        md5(concat_ws("", payloadCols.map(c => col(c).cast("string")): _*))
          .as(alias))
    digested(oldSnap, "digest_old")
      .join(digested(newSnap, "digest_new"), Seq("id"), "full_outer")
      .select(
        col("id").as(idCol),
        when(col("digest_old").isNull, "added")
          .when(col("digest_new").isNull, "removed")
          .when(col("digest_old") =!= col("digest_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Schema diff between two snapshot catalogs: one row per (table,
    * column) present in either side, classified added / removed /
    * type_changed / unchanged — [[snapshotDiff]]'s twin at the SCHEMA
    * level (did a producer silently widen a column or drop a table
    * between freezes). Inputs carry (tableName, columnName, dataType)
    * rows, e.g. `GraftEngine.classifiedColumns` of each snapshot.
    *
    * Scale: catalog-sized by construction (footer metadata, not data) —
    * one full-outer join over a few thousand rows at most.
    */
  def schemaDiff(oldCat: DataFrame, newCat: DataFrame): DataFrame = {
    def side(df: DataFrame, alias: String): DataFrame =
      df.select(
        col("tableName").as("table_name"), col("columnName").as("column_name"),
        col("dataType").as(alias))
    side(oldCat, "type_old")
      .join(side(newCat, "type_new"), Seq("table_name", "column_name"), "full_outer")
      .select(
        col("table_name"), col("column_name"),
        when(col("type_old").isNull, "added")
          .when(col("type_new").isNull, "removed")
          .when(col("type_old") =!= col("type_new"), "type_changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("type_old"), lit("")).as("type_old"),
        coalesce(col("type_new"), lit("")).as("type_new"))
  }

  /** Exponentially-weighted smoothing with α = 1/2, bit-exact: the
    * smoothed numerator at tick t is Σ_{j=0..W−1} x_{t−j}·2^(W−1−j) —
    * a dyadic EWMA whose weights are powers of two, so the whole series
    * is integer arithmetic (shifts and adds) and hash-matches a SQL
    * oracle with zero float drift. The full-window weight mass is
    * 2^W − 1; `smoothed` = numerator div (2^W − 1) (floor division,
    * Spark `div` == DuckDB `//`). Missing leading ticks weigh 0 — the
    * usual warm-up convention.
    *
    * This is ROW-lag smoothing over observed ticks (not wall-clock decay):
    * feed it a dense tick series (e.g. hourly counts) for time semantics.
    * One bounded window per key; W lag terms fold into a single projection.
    */
  def ewmaSmooth(
      df: DataFrame,
      keyCol: String,
      tickCol: String,
      valueCol: String,
      window: Int = 8): DataFrame = {
    require(window >= 1 && window <= 32, "window must be in [1, 32]")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(tickCol)
    val num = (0 until window).map { j =>
      coalesce(lag(col(valueCol), j).over(w), lit(0L)) *
        lit(1L << (window - 1 - j))
    }.reduce(_ + _)
    df.withColumn("ewma_num", num)
      .withColumn("smoothed", expr(s"ewma_num div ${(1L << window) - 1}"))
  }

  /** Spark's numeric-precedence ladder (TypeCoercion.numericPrecedence):
    * the widening order `schemaMerge` resolves numeric type drift along.
    */
  val numericRank: Map[String, Int] = Map(
    "tinyint" -> 1, "smallint" -> 2, "int" -> 3, "bigint" -> 4,
    "float" -> 5, "double" -> 6)

  /** Schema MERGE between two snapshot catalogs — the write-side companion
    * to [[schemaDiff]]'s read-side report: what unified schema should the
    * next compaction/CTAS emit, and which columns need manual attention?
    *
    * Per (table, column): `unchanged` (same type), `added` / `old_only`
    * (union keeps both — parquet mergeSchema semantics), `widened` (both
    * numeric: merged type is the higher rung of Spark's numeric-precedence
    * ladder), or `conflict` (incompatible drift, e.g. double→decimal —
    * merged_type stays empty, a human decides). Catalog-scale data: one
    * full-outer join on (table, column), all CASE logic, no data scan.
    */
  def schemaMerge(oldCat: DataFrame, newCat: DataFrame): DataFrame = {
    def side(df: DataFrame, alias: String): DataFrame =
      df.select(
        col("tableName").as("table_name"), col("columnName").as("column_name"),
        col("dataType").as(alias))
    def rank(c: Column): Column =
      numericRank.foldLeft(lit(null).cast("int")) { case (acc, (t, r)) =>
        when(c === t, lit(r)).otherwise(acc)
      }
    val ro = rank(col("type_old"))
    val rn = rank(col("type_new"))
    side(oldCat, "type_old")
      .join(side(newCat, "type_new"), Seq("table_name", "column_name"), "full_outer")
      .select(
        col("table_name"), col("column_name"),
        when(col("type_old").isNull, "added")
          .when(col("type_new").isNull, "old_only")
          .when(col("type_old") === col("type_new"), "unchanged")
          .when(ro.isNotNull && rn.isNotNull, "widened")
          .otherwise("conflict").as("action"),
        coalesce(col("type_old"), lit("")).as("type_old"),
        coalesce(col("type_new"), lit("")).as("type_new"),
        when(col("type_old").isNull, col("type_new"))
          .when(col("type_new").isNull, col("type_old"))
          .when(col("type_old") === col("type_new"), col("type_old"))
          .when(ro.isNotNull && rn.isNotNull,
            when(ro >= rn, col("type_old")).otherwise(col("type_new")))
          .otherwise(lit("")).as("merged_type"))
  }

  /** Distribution drift of a categorical key between a reference and a
    * current snapshot: per-key counts from both sides, the key's share in
    * each, and an integer-exact drift numerator
    * |n_ref·total_cur − n_cur·total_ref| (the total-variation-distance
    * term before its constant 1/(2·total_ref·total_cur) factor). The
    * cross-multiplied form keeps the comparison-grade quantity in exact
    * integer arithmetic — no float on the ranking path; the share columns
    * are each ONE IEEE division (deterministic in any engine) rounded for
    * display.
    *
    * Scale: two map-side-combined counts (|keys| rows each), one
    * broadcast-sized totals row, one full-outer join on the key. At
    * extreme row counts swap the BIGINT output for DECIMAL(38,0) — the
    * internal product is computed in decimal already.
    */
  def distributionDrift(
      ref: DataFrame, cur: DataFrame, keyCol: String): DataFrame =
    driftFromCounts(
      ref.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("n_ref")),
      cur.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("n_cur")))

  /** [[distributionDrift]] over pre-aggregated counts — `r` carries
    * (key, n_ref), `c` carries (key, n_cur).
    */
  private def driftFromCounts(r: DataFrame, c: DataFrame): DataFrame = {
    val joined = r.join(c, Seq("key"), "full_outer")
      .select(col("key"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.agg(
      sum("n_ref").as("t_ref"), sum("n_cur").as("t_cur"))
    joined.crossJoin(broadcast(totals))
      .select(
        col("key"), col("n_ref"), col("n_cur"),
        round(col("n_ref").cast("double") / col("t_ref"), 6).as("share_ref"),
        round(col("n_cur").cast("double") / col("t_cur"), 6).as("share_cur"),
        abs(
          col("n_ref").cast("decimal(38,0)") * col("t_cur").cast("decimal(38,0)") -
            col("n_cur").cast("decimal(38,0)") * col("t_ref").cast("decimal(38,0)"))
          .cast("long").as("drift_num"))
  }

  /** One-row verdict over a [[distributionDrift]] report: the total
    * variation distance TVD = Σ drift_num / (2·t_ref·t_cur) ∈ [0, 1]
    * (0 = identical mixes, 1 = disjoint), the number of keys, and the
    * single worst-drifting key — the promote/rollback gate compares `tvd`
    * against a threshold instead of eyeballing per-key rows. The numerator
    * sums exactly in decimal; one final IEEE division keeps the value
    * engine-portable.
    */
  def driftSummary(report: DataFrame): DataFrame = {
    val worst = report
      .orderBy(col("drift_num").desc, col("key").asc).limit(1)
      .select(col("key").as("worst_key"), col("drift_num").as("worst_drift_num"))
    report
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("drift_num").cast("decimal(38,0)")).as("__num"),
        sum("n_ref").as("__t_ref"), sum("n_cur").as("__t_cur"))
      .select(
        col("n_keys"),
        round(
          col("__num").cast("double") /
            (lit(2.0) * col("__t_ref").cast("double") * col("__t_cur").cast("double")),
          6).as("tvd"))
      .crossJoin(broadcast(worst))
  }

  /** Numeric-distribution drift: the categorical TVD machinery
    * ([[driftFromCounts]]) applied to equi-width histogram BUCKETS of a
    * numeric column — "did the price/length/score distribution move?",
    * which per-key counts cannot ask. Both snapshots bin with the same
    * (lo, hi, nBuckets), so the bucket id is the join key and every drift
    * numerator stays integer-exact; sensitivity is bounded by one bin
    * width, the histogram-sketch trade.
    *
    * Scale: two one-pass grouped aggregates (nBuckets rows each) + the
    * bucket-keyed join — the snapshots are never joined row-to-row.
    */
  def numericDrift(
      ref: DataFrame, cur: DataFrame, column: String,
      lo: Double, hi: Double, nBuckets: Int): DataFrame = {
    def hist(df: DataFrame, alias: String) =
      graft.analyze.Profiler.histogram(df, column, lo, hi, nBuckets)
        .select(col("bucket").cast("long").as("key"), col("n").as(alias))
    driftFromCounts(hist(ref, "n_ref"), hist(cur, "n_cur"))
  }

  /** Rolling median/MAD anomaly detection over a per-key time series (e.g.
    * hourly event counts): flag a point iff |x − median| > k·MAD over the
    * trailing `window` points — the robust alternative to mean/stddev
    * z-scores, which a single spike corrupts (the spike inflates stddev
    * and masks itself).
    *
    * Every comparison is INTEGER arithmetic via doubled medians:
    * `med2 = lower + upper median of the window (= 2·median)`,
    * `mad4 = lower + upper median of |2x − med2| (= 4·MAD)`, and the flag
    * is `2·|2x − med2| > k·mad4` — no float rounding anywhere, so results
    * are engine-portable bit-for-bit (the reported median/mad divide by
    * 2/4, exact in IEEE). Points with fewer than `minWindow` trailing
    * values are never flagged (warm-up).
    *
    * Scale: one hash shuffle on the key; the window array is bounded by
    * `window` (a constant), so per-row work is O(window log window) with
    * no iterative joins. The input is a per-key-per-bucket AGGREGATE
    * (hours × keys rows), not the raw event stream.
    */
  def rollingMadAnomalies(
      counts: DataFrame, keyCol: String, timeCol: String, valueCol: String,
      window: Int = 24, k: Int = 3, minWindow: Int = 12): DataFrame = {
    require(window >= 2 && minWindow >= 1 && k >= 1, "bad anomaly params")
    import org.apache.spark.sql.expressions.Window
    val trail = Window.partitionBy(keyCol).orderBy(timeCol)
      .rowsBetween(-(window - 1), 0)
    def medianDoubled(arr: org.apache.spark.sql.Column) =
      element_at(arr, ((size(arr) + 1) / 2).cast("int")) +
        element_at(arr, ((size(arr) + 2) / 2).cast("int"))
    counts
      .withColumn("__arr",
        sort_array(collect_list(col(valueCol).cast("long")).over(trail)))
      .withColumn("__nw", size(col("__arr")))
      .withColumn("__med2", medianDoubled(col("__arr")))
      .withColumn("__mad4",
        medianDoubled(sort_array(transform(col("__arr"),
          e => abs(e * 2 - col("__med2"))))))
      .withColumn("median", col("__med2").cast("double") / 2.0)
      .withColumn("mad", col("__mad4").cast("double") / 4.0)
      .withColumn("is_anomaly",
        col("__nw") >= minWindow &&
          abs(col(valueCol).cast("long") * 2 - col("__med2")) * 2 > col("__mad4") * k)
      .select(col(keyCol), col(timeCol), col(valueCol),
        col("median"), col("mad"), col("is_anomaly"))
  }

  /** Kolmogorov–Smirnov distance of each group's value distribution
    * against the REST of the corpus, as exact integers: the KS statistic
    * sup|F_g − F_rest| is attained at a jump point, so it is the max over
    * distinct values of |cum_g·n_rest − cum_rest·n_g|, reported with the
    * denominator n_g·n_rest and a 2²⁰ fixed-point quotient. KS sees shape
    * differences TVD-on-buckets misses (a pure location shift moves every
    * quantile but may leave bucket masses similar) — the
    * complement of [[distributionDrift]]'s statistic.
    *
    * Scale: the evaluation grid is |distinct values| × |groups| (value
    * distributions are low-cardinality relative to rows: lengths, scores,
    * bucketed metrics — NOT raw ids); windows run per group over the
    * grid, never over data rows.
    */
  def ksDrift(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = col(groupCol)
    val base = df.select(g, col(valueCol).as("__v"))
      .filter(g.isNotNull && col("__v").isNotNull)
    val counts = base.groupBy(g, col("__v")).agg(count(lit(1)).as("__c"))
    val groups = counts.select(g).distinct()
    val vals = counts.groupBy(col("__v")).agg(sum(col("__c")).as("__call"))
      .withColumn("__cumall", sum(col("__call")).over(
        Window.orderBy(col("__v").asc).rowsBetween(Window.unboundedPreceding, 0)))
    val grid = vals.crossJoin(groups)
      .join(counts, Seq(groupCol, "__v"), "left")
      .na.fill(0L, Seq("__c"))
      .withColumn("__cumg", sum(col("__c")).over(
        Window.partitionBy(g).orderBy(col("__v").asc)
          .rowsBetween(Window.unboundedPreceding, 0)))
    val ng = base.groupBy(g).agg(count(lit(1)).as("n_g"))
    val tot = base.agg(count(lit(1)).cast("long").as("__n"))
    grid.join(broadcast(ng), Seq(groupCol)).crossJoin(broadcast(tot))
      .withColumn("__diff", abs(
        col("__cumg") * (col("__n") - col("n_g")) -
          (col("__cumall") - col("__cumg")) * col("n_g")))
      .groupBy(g)
      .agg(max(col("n_g")).cast("long").as("n_g"),
        max(col("__n")).cast("long").as("n_all"),
        max(col("__diff")).cast("long").as("ks_num"))
      .withColumn("ks_den", (col("n_g") * (col("n_all") - col("n_g"))).cast("long"))
      .withColumn("ks_fp", when(col("ks_den") === 0L, 0L)
        .otherwise(graft.ext.ExactMath.floorDiv(
          col("ks_num") * lit(1048576L), col("ks_den")))
        .cast("long"))
  }

  /** Cardinality drift (E172): per column, distinct-value counts in two
    * deterministic hash halves of the table plus the exact cross-multiplied
    * deviation |d_a·n_b − d_b·n_a| — a column whose cardinality-per-row
    * differs between halves has a value population that depends on the
    * split key (ingest-time skew, id-range leakage, a half-applied
    * backfill). The categorical/cardinality twin of [[numericDrift]]:
    * works on ANY column type because it never orders values.
    *
    * Distinct counts run over structs so NULL is a countable value (the
    * q123/q139 discipline). Scale: one Expand pass — (2 halves × |cols|)
    * aggregates over one scan, map-side partial distinct.
    */
  def cardinalityDrift(
      df: DataFrame, idCol: String, cols: Seq[String],
      seed: Int = 3): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val half = pmod(graft.ext.Dedup.stableHash(col(idCol), seed), lit(2L))
    val aggs = cols.map(c => countDistinct(struct(col(c))).as(s"__d_$c")) :+
      count(lit(1)).as("__n")
    val halves = df.withColumn("__h", half)
      .groupBy("__h")
      .agg(aggs.head, aggs.tail: _*)
    val a = halves.filter(col("__h") === 0L)
    val b = halves.filter(col("__h") === 1L)
    a.crossJoin(b.select(
        col("__n").as("__nb") +: cols.map(c => col(s"__d_$c").as(s"__db_$c")): _*))
      .select(explode(array(cols.map { c =>
        struct(
          lit(c).as("column_name"),
          col("__n").cast("long").as("n_a"),
          col("__nb").cast("long").as("n_b"),
          col(s"__d_$c").cast("long").as("d_a"),
          col(s"__db_$c").cast("long").as("d_b"),
          abs(col(s"__d_$c") * col("__nb") - col(s"__db_$c") * col("__n"))
            .cast("long").as("dev_num"))
      }: _*)).as("p"))
      .select("p.*")
  }

  /** Single change-point detection per group (E196): over each event
    * type's ordered hourly-count sequence, the position maximizing the
    * exact CUSUM-style deviation |S_r·T − r·S| (prefix sum vs its
    * uniform expectation, cross-multiplied — no float division). The
    * binary-segmentation primitive: "WHEN did this feed's rate change",
    * not just whether two snapshots differ ([[tvdDrift]]'s question).
    * Positions index the sequence of OBSERVED buckets (quiet hours
    * contribute no row); a type with a single bucket has no interior
    * split and emits nothing.
    *
    * Scale: one bucket-keyed aggregation, then ALL windows (rank, prefix
    * sum, totals, argmax) share the single per-type partitioning — the
    * sequence table is buckets×types rows, corpus-independent shuffle.
    */
  def changePoint(
      events: DataFrame,
      tsCol: String = "ts",
      typeCol: String = "event_type",
      bucketNs: Long = 3600L * 1000000000L): DataFrame =
    changePointFromCounts(
      events
        .select(col(typeCol).as("etype"), expr(s"$tsCol div $bucketNs").as("bucket"))
        .groupBy("etype", "bucket").agg(count(lit(1)).as("n")),
      typeCol)

  /** [[changePoint]] over an ALREADY-bucketed (etype, bucket, n) count
    * table.
    */
  private def changePointFromCounts(
      counts: DataFrame, typeCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy("etype")
    val ordered = byType.orderBy(col("bucket").asc)
    val seq = counts
      .withColumn("r", row_number().over(ordered).cast("long"))
      .withColumn("s", sum(col("n")).over(
        ordered.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("t", count(lit(1)).over(byType).cast("long"))
      .withColumn("tot", sum(col("n")).over(byType))
    seq
      .filter(col("r") < col("t"))
      .withColumn("d_num", abs(col("s") * col("t") - col("r") * col("tot")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("etype").orderBy(col("d_num").desc, col("r").asc)))
      .filter(col("rk") === 1)
      .select(col("etype").as(typeCol),
        col("t").as("n_buckets"), col("tot").cast("long").as("n_events"),
        col("r").as("split_pos"), col("bucket").as("split_bucket"),
        col("d_num").cast("long").as("d_num"))
  }
}
