package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Time-coverage analysis over an event stream: where are the holes?
  *
  * A data-completeness preflight for training pipelines fed by logs: a
  * feed that silently stops emitting for hours shows up here as a gap row
  * (and a degraded per-key coverage summary), not as a surprise three
  * stages later when a window aggregate returns empty buckets.
  *
  * Semantics are integer-exact end to end: timestamps become epoch
  * microseconds (BIGINT both here and in the DuckDB oracle via
  * `epoch_us`), gaps are integer differences, and the per-key tie order
  * (ts, then id) is total — so the output is bit-identical across engines.
  *
  * Scale: one hash-partitioned window per key for the lag pass; the
  * summary's groupBy reuses the same key, so Catalyst plans a single
  * exchange for both steps. State per key is one row of lag — no
  * collect, no sort beyond the per-partition window sort.
  */
object Coverage {

  /** Event time as epoch microseconds: TIMESTAMP columns via unix_micros,
    * BIGINT columns treated as epoch nanoseconds (the testdata's
    * parquet timestamp[ns] convention — see streaming/Sessions.nsToUs).
    */
  private def toUs(df: DataFrame, tsCol: String): Column =
    df.schema(tsCol).dataType match {
      case TimestampType => unix_micros(col(tsCol))
      case LongType => graft.streaming.Sessions.nsToUs(col(tsCol))
      case other =>
        throw new IllegalArgumentException(
          s"$tsCol: expected TIMESTAMP or BIGINT-ns, got $other")
    }

  /** Per-key silent periods: consecutive-event gaps of at least
    * `minGapUs` microseconds, as (key, gap_start_us, gap_end_us, gap_us).
    */
  def gaps(
      events: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id",
      minGapUs: Long = 6L * 3600 * 1000000): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("tus"), col(idCol))
    events
      .select(col(keyCol), toUs(events, tsCol).as("tus"), col(idCol))
      .withColumn("prev_us", lag(col("tus"), 1).over(w))
      .filter(col("prev_us").isNotNull && col("tus") - col("prev_us") >= minGapUs)
      .select(
        col(keyCol),
        col("prev_us").as("gap_start_us"),
        col("tus").as("gap_end_us"),
        (col("tus") - col("prev_us")).as("gap_us"))
  }

  /** Per-key coverage rollup: observed span, event count, and how much of
    * the span is lost to ≥`minGapUs` holes. All-integer output
    * (microseconds), so downstream ratio thresholds stay exact:
    * gate on `uncovered_us * D > span_us * N` instead of a float ratio.
    */
  def coverageSummary(
      events: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id",
      minGapUs: Long = 6L * 3600 * 1000000): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("tus"), col(idCol))
    val gap = col("tus") - col("prev_us")
    val isHole = col("prev_us").isNotNull && gap >= minGapUs
    events
      .select(col(keyCol), toUs(events, tsCol).as("tus"), col(idCol))
      .withColumn("prev_us", lag(col("tus"), 1).over(w))
      .groupBy(col(keyCol))
      .agg(
        min(col("tus")).as("first_us"),
        max(col("tus")).as("last_us"),
        count(lit(1)).as("n_events"),
        sum(when(isHole, 1L).otherwise(0L)).as("n_gaps"),
        sum(when(isHole, gap).otherwise(0L)).as("uncovered_us"))
      .withColumn("span_us", col("last_us") - col("first_us"))
  }

  /** Act on the holes [[gaps]] finds: densify a per-key aggregate onto a
    * complete fixed-width time grid and forward-fill missing buckets with
    * the last observed value. `series` has one row per (key, bucket_us,
    * value); output has one row per (key, every bucket in the KEY'S OWN
    * observed [min, max] span) with `value` filled, `was_gap` marking
    * synthesized rows, and `filled_from_us` the donor bucket.
    *
    * Precondition: `bucketCol` values are already quantized to `stepUs`
    * multiples (the output of an hourly/daily bucketing aggregate) — the
    * grid starts at each key's min bucket and strides by `stepUs`, so an
    * unaligned row would never join.
    *
    * The grid is generated per key with `sequence` (bounded by that key's
    * span — no cross-key global range blowup). Two bounded shuffles: the
    * grid⋈series equi-join on (key, bucket), then the key-partitioned
    * fill window; both keyed by the data's own keys, no collect. Grid
    * width is integer µs; no floats anywhere.
    */
  def forwardFill(
      series: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      stepUs: Long): DataFrame = {
    require(stepUs > 0, "stepUs must be positive")
    val grid = series
      .groupBy(col(keyCol))
      .agg(min(col(bucketCol)).as("__lo"), max(col(bucketCol)).as("__hi"))
      .select(col(keyCol),
        explode(sequence(col("__lo"), col("__hi"), lit(stepUs))).as(bucketCol))
    val w = Window.partitionBy(keyCol).orderBy(col(bucketCol))
    grid
      .join(series, Seq(keyCol, bucketCol), "left_outer")
      .withColumn("was_gap", col(valueCol).isNull)
      .withColumn("filled_from_us",
        last(when(!col("was_gap"), col(bucketCol)), ignoreNulls = true).over(w))
      .withColumn(valueCol,
        last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Per-user activity profile (E178): volume, type concentration, and
    * timing regularity in one row per user — the bot/scraper triage
    * (high volume + one event type + metronome gaps is not a human).
    * Type concentration is the log-free Simpson index
    * Σnᵢ(nᵢ−1) / (n(n−1)) in 2²⁰ fixed point (1 = single-type); timing
    * uses [[interArrival]]'s second-quantized moments per user (CV² ≪ 2²⁰
    * = regular). Degenerate users (n < 2) report 0 for both.
    *
    * Scale: one per-user lag window + two per-user aggregations — all
    * keyed by user, nothing global.
    */
  def userActivityProfile(
      events: DataFrame,
      keyCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val fp = lit(1048576L)
    val typeCounts = events.groupBy(col(keyCol), col(typeCol))
      .agg(count(lit(1)).as("c"))
    val simpson = typeCounts.groupBy(keyCol)
      .agg(
        sum(col("c")).cast("long").as("n_events"),
        count(lit(1)).cast("long").as("n_types"),
        sum(col("c") * (col("c") - 1L)).cast("long").as("pairs_same"))
      .withColumn("simpson_fp",
        when(col("n_events") > 1L,
          graft.ext.ExactMath.floorDiv(col("pairs_same") * fp,
            col("n_events") * (col("n_events") - 1L))).otherwise(0L))
      .drop("pairs_same")
    val w = Window.partitionBy(keyCol).orderBy(col("tus"), col(idCol))
    val gaps = events
      .select(col(keyCol), toUs(events, tsCol).as("tus"), col(idCol))
      .withColumn("prev", lag(col("tus"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col(keyCol),
        graft.ext.ExactMath.floorDiv(col("tus") - col("prev"), lit(1000000L))
          .as("d_s"))
    val dec = "decimal(38,0)"
    val timing = gaps.groupBy(keyCol)
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("d_s")).cast("long").as("sum_s"),
        sum(col("d_s") * col("d_s")).cast("long").as("sum_s2"))
      .withColumn("mean_gap_s",
        graft.ext.ExactMath.floorDiv(col("sum_s"), col("n_gaps")))
      .withColumn("cv2_fp",
        when(col("sum_s") === 0L, 0L)
          .otherwise(graft.ext.ExactMath.floorDiv(
            (col("n_gaps").cast(dec) * col("sum_s2").cast(dec) -
              col("sum_s").cast(dec) * col("sum_s").cast(dec)) * fp.cast(dec),
            col("sum_s").cast(dec) * col("sum_s").cast(dec)))
          .cast("long"))
      .select(col(keyCol), col("mean_gap_s"), col("cv2_fp"))
    simpson.join(timing, Seq(keyCol), "left")
      .select(col(keyCol), col("n_events"), col("n_types"), col("simpson_fp"),
        coalesce(col("mean_gap_s"), lit(0L)).as("mean_gap_s"),
        coalesce(col("cv2_fp"), lit(0L)).as("cv2_fp"))
  }

  /** Conversion-lag histogram (E179): time from a user's FIRST `fromType`
    * to their FIRST later `toType`, bucketed into power-of-two second
    * ranges — "how long does view → purchase actually take", the input to
    * attribution-window choices. Buckets reuse the exact bit-length trick;
    * zero-lag conversions land in the minimum bucket.
    *
    * Scale: two per-user min-aggregations (map-side combined) + one
    * bounded histogram aggregate.
    */
  def conversionLag(
      events: DataFrame,
      fromType: String,
      toType: String,
      keyCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      minBucket: Long = 16L): DataFrame = {
    val base = events.select(col(keyCol), col(typeCol),
      toUs(events, tsCol).as("tus"))
    val firstFrom = base.filter(col(typeCol) === fromType)
      .groupBy(keyCol).agg(min(col("tus")).as("t_from"))
    val firstTo = base.filter(col(typeCol) === toType)
      .groupBy(keyCol).agg(min(col("tus")).as("t_to"))
    val lags = firstFrom.join(firstTo, Seq(keyCol))
      .filter(col("t_to") >= col("t_from"))
      .select(graft.ext.ExactMath.floorDiv(col("t_to") - col("t_from"),
        lit(1000000L)).as("lag_s"))
    lags
      // greatest(lag,1): zero-second conversions land in the min bucket
      // (bin(-1) is 64 ones — the bit-length trick needs a positive arg)
      .withColumn("bucket_s",
        greatest(lit(minBucket),
          expr("shiftleft(CAST(1 AS BIGINT), length(bin(greatest(lag_s, 1) - 1)))")))
      .groupBy("bucket_s")
      .agg(count(lit(1)).as("n_users"),
        min(col("lag_s")).cast("long").as("min_lag_s"),
        max(col("lag_s")).cast("long").as("max_lag_s"))
  }

  /** Weekly seasonality profile (E174): events per (type, iso-weekday,
    * hour-of-day) normalized by how many distinct dates of that weekday the
    * feed actually observed — the periodic baseline behind "is Tuesday 3am
    * quiet or is the feed down?". rate_fp = n_events·2²⁰ // n_days is the
    * expected per-day count for that cell; rollingMadAnomalies flags
    * deviations, this supplies the baseline they deviate FROM.
    *
    * Weekday is ISO (0 = Monday … 6 = Sunday) — Spark `weekday` ==
    * DuckDB `isodow − 1` — and all time math runs in UTC sessions.
    *
    * Scale: one projection + two hash aggregations (cells, and the tiny
    * distinct-date-per-weekday table), joined on weekday.
    */
  def seasonalProfile(
      events: DataFrame,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val t = events.schema(tsCol).dataType match {
      case LongType => graft.streaming.Sessions.nsToTimestamp(col(tsCol))
      case _ => col(tsCol).cast("timestamp")
    }
    val base = events.select(col(typeCol).as("event_type"),
      weekday(t).cast("long").as("dow"), hour(t).cast("long").as("hod"),
      to_date(t).as("d"))
    val days = base.select(col("dow"), col("d")).distinct()
      .groupBy("dow").agg(count(lit(1)).as("n_days"))
    base.groupBy("event_type", "dow", "hod")
      .agg(count(lit(1)).as("n_events"))
      .join(days, "dow")
      .select(col("event_type"), col("dow"), col("hod"), col("n_events"),
        col("n_days").cast("long").as("n_days"),
        graft.ext.ExactMath.floorDiv(col("n_events") * lit(1048576L), col("n_days"))
          .as("rate_fp"))
  }

  /** Per-type inter-arrival profile (E153): consecutive-event gaps within
    * each (key, type) stream, quantized to whole seconds, aggregated per
    * type into count / sum / max and the squared coefficient of variation
    *
    *   CV² = n·Σd²/ (Σd)² − 1
    *
    * in 2²⁰ fixed point (CV² ≈ 1 ⇒ Poisson arrivals, ≫ 1 ⇒ bursty, ≪ 1 ⇒
    * regular) — the traffic-shape diagnostic behind retry storms and
    * crawler detection. All moments are exact integers; the CV² quotient
    * goes through DECIMAL(38) products (n·Σd² overflows int64 at corpus
    * scale) and a remainder-subtracting floor, so both engines agree
    * bit-for-bit. Degenerate streams (Σd = 0) report cv2_fp = 0.
    *
    * Scale: the lag window is keyed by (key, type) — per-user streams,
    * never a global sort; the moment aggregation is map-side combined to
    * |types| rows.
    */
  def interArrival(
      events: DataFrame,
      keyCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(keyCol), col(typeCol))
      .orderBy(col("tus"), col(idCol))
    val d = events
      .select(col(keyCol), col(typeCol), toUs(events, tsCol).as("tus"), col(idCol))
      .withColumn("prev_us", lag(col("tus"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col(typeCol),
        graft.ext.ExactMath.floorDiv(col("tus") - col("prev_us"), lit(1000000L))
          .as("d_s"))
    val dec = "decimal(38,0)"
    val a = d.groupBy(typeCol).agg(
      count(lit(1)).as("n_gaps"),
      sum(col("d_s")).cast("long").as("sum_s"),
      max(col("d_s")).cast("long").as("max_s"),
      sum(col("d_s") * col("d_s")).cast("long").as("sum_s2"))
    val n = col("n_gaps").cast(dec)
    val s = col("sum_s").cast(dec)
    val s2 = col("sum_s2").cast(dec)
    a.select(
      col(typeCol), col("n_gaps"), col("sum_s"), col("max_s"), col("sum_s2"),
      graft.ext.ExactMath.floorDiv(col("sum_s"), col("n_gaps")).as("mean_s"),
      when(col("sum_s") === 0L, 0L)
        .otherwise(graft.ext.ExactMath.floorDiv(
          (n * s2 - s * s) * lit(1048576L).cast(dec), s * s))
        .cast("long").as("cv2_fp"))
  }

  /** Audience overlap (E200): exact distinct-user intersection for every
    * event-type pair, with fixed-point Jaccard — "do purchasers also
    * click", the segment-overlap report behind funnel and retention
    * reads. One (type, user) distinct pass; the pair join shuffles on the
    * USER key (cardinality grows with data), each user contributing only
    * their own type combinations; sizes attach from the same distinct
    * table.
    */
  def audienceOverlap(
      events: org.apache.spark.sql.DataFrame,
      typeCol: String = "event_type",
      userCol: String = "user_id"): org.apache.spark.sql.DataFrame = {
    val tu = events
      .select(col(typeCol).as("t"), col(userCol).as("u"))
      .filter(col("u").isNotNull)
      .distinct()
    val sizes = tu.groupBy("t").agg(count(lit(1)).as("n"))
    val inter = tu.select(col("t").as("type_a"), col("u"))
      .join(tu.select(col("t").as("type_b"), col("u")), Seq("u"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("t").as("type_a"), col("n").as("n_a")), Seq("type_a"))
      .join(sizes.select(col("t").as("type_b"), col("n").as("n_b")), Seq("type_b"))
      .select(col("type_a"), col("type_b"),
        col("n_a"), col("n_b"), col("n_common"),
        graft.ext.ExactMath.floorDiv(col("n_common") * lit(1048576L),
          col("n_a") + col("n_b") - col("n_common")).as("jaccard_fp"))
  }
}
