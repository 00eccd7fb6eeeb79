package graft.etl

import graft.ops.Cols._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** new_register_summary_1d (task-executor/new_rigester_summary/
  * new_register_summary_1d.py): today's registrations joined to today's
  * play summaries, re-grouped to site/game/country grain with a member count.
  *
  * Reference quirks kept for parity:
  *  - the registration join is on player_name ONLY
  *    (new_register_summary_1d.py:113-114) even though platform/site_code are
  *    available — a cross-platform name collision would leak rows; the
  *    engine reproduces that for parity
  *  - the reference reads SUM(wl_amount) from player_summary_5min although
  *    the 5min writer emits w_amount (SURVEY §1.3) — the physical DB is the
  *    schema authority there; the engine standardizes on w_amount.
  *
  * Scale: the registration list for one day is tiny -> broadcast semi join
  * against the day's summaries; one shuffle for the final re-group (A10 —
  * the reference's two pandas groupbys collapsed into one agg).
  */
object NewRegisterSummary {

  val grain = Seq("platform", "site_code", "game_code", "country")

  def oneDay(playerSummary5min: DataFrame, players: DataFrame, slice: TaskSlice): DataFrame = {
    // New NORMAL members registered inside the day slice.
    val newReg = players
      .filter(inWindow(col("reg_time"), slice.gte, slice.lt))
      .filter(col("type") === "NORMAL")
      .select("player_name")

    // The day's per-player sums from the 5min tier (the reference pins
    // platform/site_code from the task row; ALL wildcards cover the rest).
    val daySums = playerSummary5min
      .filter(col("summary_date") === slice.dateInt)
      .filter(slice.gameScope)
      .groupBy(col("platform"), col("site_code"), col("game_code"),
        col("player_name"), col("country"))
      .agg(
        sum(col("b_count")).as("b_count"),
        sum(col("b_amount")).as("b_amount"),
        sum(col("w_amount")).as("w_amount"),
        sum(col("fee_amount")).as("fee_amount"),
        sum(col("profit_amount")).as("profit_amount"),
        sum(col("refund_amount")).as("refund_amount"))

    val regData = daySums.join(broadcast(newReg), Seq("player_name"), "left_semi")

    // A10: sums + member count in ONE aggregation (the reference runs
    // separate .sum() and .count() groupbys and merges them back).
    regData
      .groupBy(grain.map(col): _*)
      .agg(
        sum(col("b_count")).as("b_count"),
        sum(col("b_amount")).as("b_amount"),
        sum(col("w_amount")).as("w_amount"),
        sum(col("fee_amount")).as("fee_amount"),
        sum(col("profit_amount")).as("profit_amount"),
        sum(col("refund_amount")).as("refund_amount"),
        count(col("player_name")).as("reg_count"))
      .withColumn("summary_date", lit(slice.dateInt))
  }
}
