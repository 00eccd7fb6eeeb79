package graft.etl

import graft.ops.Cols._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The player_summary cascade: game rounds -> 5min -> 1h -> 1d -> 1m.
  *
  * Faithful re-expression of task-executor/player_summary modules:
  *  - 5min tier: wide sum battery + rtp over player_profit_log with robot
  *    filter, clamped free/jp sums, inf/NaN -> 0
  *    (player_summary_5min.py:71-106)
  *  - ratio enrichment from game_sites + profit split
  *    (player_summary_5min.py:109-131)
  *  - risky flagging with ordered mask overrides
  *    (player_summary_5min.py:136-148)
  *  - coarser tiers re-aggregate the tier below; rtp is recomputed from the
  *    re-summed profit/bet (weighted, never an average of averages).
  *
  * Scale: game_sites is a tiny dim -> broadcast join, no fact shuffle for the
  * enrichment; the aggregation shuffles once on the 5-part key.
  */
object PlayerSummary {

  val keys = Seq("platform", "site_code", "game_code", "player_name", "country")

  private val sumCols = Seq(
    "b_amount", "w_amount", "fee_amount", "profit_amount", "refund_amount",
    "normal_amount", "bonus_amount", "free_amount", "jp_amount",
    "valid_amount", "cancel_amount")

  /** The 5-min aggregation of both paths: the A2+A3+F8 battery over human
    * rounds grouped by key and `stamp` (the row's `start_time`), the ratio
    * enrichment, the int time keys derived from the stamp, and the risky
    * flag. */
  private def aggregate(profitLog: DataFrame, gameSites: DataFrame, stamp: Column): DataFrame = {
    val agg = profitLog
      .filter(col("is_robot") === 0)
      .groupBy((keys.map(col) :+ stamp.as("start_time")): _*)
      .agg(
        count(col("bet")).as("b_count"),
        sum(col("bet")).as("b_amount"),
        sum(col("win")).as("w_amount"),
        sum(col("fee")).as("fee_amount"),
        sum(col("profit")).as("profit_amount"),
        sum(col("refund")).as("refund_amount"),
        sum(col("normal_value")).as("normal_amount"),
        sum(col("bonus_value")).as("bonus_amount"),
        sumClamped(col("free_value")).as("free_amount"),
        sumClamped(col("jp_value")).as("jp_amount"),
        sum(col("valid_value")).as("valid_amount"),
        sum(col("cancel_value")).as("cancel_amount"),
        safeDiv(sum(col("profit")), sum(col("bet"))).as("rtp"))

    // J1: ratio enrichment — broadcast the game_sites dim, miss -> ratio 0
    // (player_summary_5min.py:116-119).
    val dim = gameSites.select(col("platform"), col("code"), col("ratio"))
    val enriched = agg
      .join(broadcast(dim),
        agg("platform") === dim("platform") && agg("site_code") === dim("code"), "left")
      .drop(dim("platform")).drop(dim("code"))
      .na.fill(0.0, Seq("ratio"))
      .transform(profitSplit)
      .withColumn("summary_date", yyyymmdd(col("start_time")))
      .withColumn("hours", hour(col("start_time")))
      .withColumn("mins", minute(col("start_time")))

    checkIfRisky(enriched)
  }

  /** F7: profit split by the site's ratio (player_summary_5min.py:121-123). */
  private def profitSplit(df: DataFrame): DataFrame =
    df.withColumn("p_before_amount", col("profit_amount"))
      .withColumn("p_after_amount", col("profit_amount") * (lit(1.0) - col("ratio")))
      .withColumn("tg_after_amount", col("profit_amount") * col("ratio"))

  /** A2+A3+F8 battery for one slice of player_profit_log, stamped with the
    * slice start: a slice longer than 5 minutes still gives one row per key. */
  def fiveMin(profitLog: DataFrame, gameSites: DataFrame, slice: TaskSlice): DataFrame =
    TaskSlice.startAfterMins(aggregate(
      profitLog
        .filter(inWindow(col("round_time"), slice.gte, slice.lt))
        .filter(slice.gameScope),
      gameSites, slice.startStamp))

  /** Backfill/catch-up path: ALL 5-min slices inside `[gte, lt)` in one
    * aggregation (cf. TransSummary.fiveMinRange) — slice stamps from the
    * floored round_time; identical to per-slice [[fiveMin]] for aligned
    * slices. */
  def fiveMinRange(profitLog: DataFrame, gameSites: DataFrame, gte: String, lt: String): DataFrame =
    aggregate(profitLog.filter(inWindow(col("round_time"), gte, lt)), gameSites,
      graft.time.Slicer.floorTo(col("round_time").cast("timestamp"), "5min"))

  /** F1: flag the report's rows with `RtpConfig.risky`. */
  def checkIfRisky(report: DataFrame): DataFrame =
    report.withColumn("is_risky",
      RtpConfig.risky(col("profit_amount"), col("b_count"), col("rtp")))

  /** A4 rollup step shared by 1h/1d/1m: sum the presummed battery over the
    * slice's cut of the tier below, recompute rtp from the re-summed
    * profit/bet, carry ratio with first() (MariaDB non-strict GROUP BY made
    * deterministic), rebuild the profit split, stamp, flag. */
  private def reAgg(prev: DataFrame, slice: TaskSlice, cut: TierCut): DataFrame =
    checkIfRisky(cut.stamp(prev
      .filter(cut.rows)
      .filter(slice.gameScope)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col("b_count")).as("b_count"),
        sumCols.map(c => sum(col(c)).as(c)) :+
          first(col("ratio")).as("ratio"): _*)
      .withColumn("rtp", safeDiv(col("profit_amount"), col("b_amount")))
      .transform(profitSplit)))

  def oneHour(fiveMinTier: DataFrame, slice: TaskSlice): DataFrame =
    reAgg(fiveMinTier, slice, slice.hourCut)

  def oneDay(oneHourTier: DataFrame, slice: TaskSlice): DataFrame =
    reAgg(oneHourTier, slice, slice.dayCut)

  def oneMonth(oneDayTier: DataFrame, slice: TaskSlice): DataFrame =
    reAgg(oneDayTier, slice, slice.monthCut)
}
