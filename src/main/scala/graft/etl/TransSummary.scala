package graft.etl

import graft.ops.Cols._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The trans_summary rollup cascade: wallet transfers -> 5min -> 1h -> 1d -> 1m.
  *
  * Faithful re-expression of task-executor/trans_summary modules:
  *  - 5min tier aggregates player_value_log (trans_summary_5min.py:67-99)
  *  - each coarser tier re-aggregates the tier below, never the raw log
  *    (trans_summary_1h.py:54-92, trans_summary_1d.py, trans_summary_1m.py)
  *  - time columns are stamped from the SLICE start, not the event time,
  *    exactly as the reference stamps gte_time.
  *
  * Scale: each tier groups on (platform, site_code, player_name, country) —
  * the same keys throughout — so the cascade's shuffles co-partition; filters
  * on summary_date/hours hit the sink's partition layout (partition pruning).
  */
object TransSummary {

  val keys = Seq("platform", "site_code", "player_name", "country")

  private val metricSums = Seq(
    "trans_in_amount", "trans_out_amount", "trans_in_count", "trans_out_count",
    "trans_out_lost_amount")

  /** A1 battery (trans_summary_5min.py:73-79): IN/OUT sums and counts, and
    * the OUT leg's lost amount. The streaming 5-min tier aggregates with it
    * too. */
  private[graft] def battery: Seq[Column] = Seq(
    sumIf(col("trade_type") === "IN", col("value")).as("trans_in_amount"),
    sumIf(col("trade_type") === "OUT", col("value")).as("trans_out_amount"),
    sum(when(col("trade_type") === "IN", 1L).otherwise(0L)).as("trans_in_count"),
    sum(when(col("trade_type") === "OUT", 1L).otherwise(0L)).as("trans_out_count"),
    (sumIf(col("trade_type") === "OUT", col("before_value"))
      - sumIf(col("trade_type") === "OUT", col("after_value"))
      - sumIf(col("trade_type") === "OUT", col("value"))).as("trans_out_lost_amount"))

  /** The 5-min aggregation of both batch paths: successful transfers grouped
    * by key and `stamp` (the row's `start_time`), with the int time keys
    * derived from the stamp (trans_summary_5min.py:96-98). */
  private def aggregate(valueLog: DataFrame, stamp: Column): DataFrame =
    valueLog
      .filter(col("trade_status") === "SUCCESS")
      .groupBy((keys.map(col) :+ stamp.as("start_time")): _*)
      .agg(battery.head, battery.tail: _*)
      .withColumn("summary_date", yyyymmdd(col("start_time")))
      .withColumn("hours", hour(col("start_time")))
      .withColumn("mins", minute(col("start_time")))

  /** A1 battery over one slice of player_value_log, stamped with the slice
    * start: a slice longer than 5 minutes still gives one row per key. */
  def fiveMin(valueLog: DataFrame, slice: TaskSlice): DataFrame =
    TaskSlice.startAfterMins(aggregate(
      valueLog
        // P3: redundant int partition-key predicate (trade_date = yyyymmdd of
        // the slice) — in Spark this prunes parquet partitions before the scan.
        .filter(col("trade_date") === slice.dateInt)
        .filter(inWindow(col("trade_time"), slice.gte, slice.lt))
        .filter(slice.scope),
      slice.startStamp))

  /** Backfill/catch-up path: ALL 5-min slices inside `[gte, lt)` in ONE
    * aggregation, grouping by the floored event time instead of running one
    * job per slice (the reference loops 288 sequential tasks per day,
    * trans_summary_5min.py:23). Output is identical to per-slice [[fiveMin]]
    * for aligned slices — the slice stamp IS the 5-min floor of trade_time.
    * At scale this is one shuffle over the day instead of 288 scheduled jobs. */
  def fiveMinRange(valueLog: DataFrame, gte: String, lt: String): DataFrame =
    aggregate(valueLog.filter(inWindow(col("trade_time"), gte, lt)),
      graft.time.Slicer.floorTo(col("trade_time").cast("timestamp"), "5min"))

  /** A4: one rollup step — re-aggregate the previous tier for one slice.
    * 1h consumes 5min rows of its hour; 1d consumes 1h rows of its day;
    * 1m consumes 1d rows of its month. */
  private def rollup(prev: DataFrame, slice: TaskSlice, cut: TierCut): DataFrame =
    cut.stamp(prev
      .filter(cut.rows)
      .filter(slice.scope)
      .groupBy(keys.map(col): _*)
      .agg(sum(col(metricSums.head)).as(metricSums.head),
        metricSums.tail.map(c => sum(col(c)).as(c)): _*))

  def oneHour(fiveMinTier: DataFrame, slice: TaskSlice): DataFrame =
    rollup(fiveMinTier, slice, slice.hourCut)

  def oneDay(oneHourTier: DataFrame, slice: TaskSlice): DataFrame =
    rollup(oneHourTier, slice, slice.dayCut)

  /** 1m groups days whose yyyymmdd falls inside the month (trans_summary_1m
    * reads the 1d tier for summary_date in [month_start, next_month)). */
  def oneMonth(oneDayTier: DataFrame, slice: TaskSlice): DataFrame =
    rollup(oneDayTier, slice, slice.monthCut)
}
