package graft.etl

import graft.io.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The executor's end-to-end daily run, as a library: raw logs -> 5min ->
  * 1h -> 1d (-> 1m) materialized tiers + the three risk reports + the
  * new-register report, every tier landing as dynamic-partition-overwritten
  * parquet (idempotent re-runs, SURVEY §3.2).
  *
  * Tier handoff goes THROUGH the sink (each tier re-reads the parquet the
  * previous tier wrote), exactly like the reference's report DB — this is
  * what makes slices independently re-runnable and lets the 1h tier run on a
  * different schedule (or cluster) than the 5min tier.
  *
  * Execution model per day: the 5min tier uses the one-pass backfill
  * aggregation; coarser tiers aggregate the materialized tier below. All
  * tiers partition on summary_date.
  */
object Pipeline {

  case class Paths(base: String) {
    val trans5min = s"$base/trans_summary_5min"
    val trans1h = s"$base/trans_summary_1h"
    val trans1d = s"$base/trans_summary_1d"
    val player5min = s"$base/player_summary_5min"
    val player1h = s"$base/player_summary_1h"
    val player1d = s"$base/player_summary_1d"
    val riskPlayer1d = s"$base/risk_ctrl_player_1d"
    val riskGame1d = s"$base/risk_ctrl_game_1d"
    val riskRtp1d = s"$base/risk_ctrl_rtp_1d"
    val newRegister1d = s"$base/new_register_summary_1d"
  }

  private def daySlices(day: java.time.LocalDate): (TaskSlice, Seq[TaskSlice]) = {
    val d0 = day.atStartOfDay()
    def ts(x: java.time.LocalDateTime) = java.sql.Timestamp.valueOf(x)
    val daySlice = TaskSlice(freq_type = "1D", gte_time = ts(d0), lt_time = ts(d0.plusDays(1)))
    val hourSlices = (0 until 24).map(h => TaskSlice(freq_type = "1H",
      gte_time = ts(d0.plusHours(h)), lt_time = ts(d0.plusHours(h + 1))))
    (daySlice, hourSlices)
  }

  /** Run one day of the trans_summary cascade end-to-end. */
  def runTransDay(spark: SparkSession, valueLog: DataFrame, paths: Paths,
      day: java.time.LocalDate): Unit = {
    val (daySlice, hourSlices) = daySlices(day)

    val fiveMin = TransSummary.fiveMinRange(valueLog, daySlice.gte, daySlice.lt)
    Sinks.overwriteSlices(fiveMin, paths.trans5min, Seq("summary_date"))

    val tier5 = spark.read.parquet(paths.trans5min)
    val oneHour = hourSlices.map(TransSummary.oneHour(tier5, _)).reduce(_ unionByName _)
    Sinks.overwriteSlices(oneHour, paths.trans1h, Seq("summary_date"))

    val tier1h = spark.read.parquet(paths.trans1h)
    Sinks.overwriteSlices(TransSummary.oneDay(tier1h, daySlice), paths.trans1d, Seq("summary_date"))
  }

  /** Run one day of the player_summary cascade end-to-end. */
  def runPlayerDay(spark: SparkSession, profitLog: DataFrame, gameSites: DataFrame,
      paths: Paths, day: java.time.LocalDate): Unit = {
    val (daySlice, hourSlices) = daySlices(day)

    val fiveMin = PlayerSummary.fiveMinRange(profitLog, gameSites, daySlice.gte, daySlice.lt)
    Sinks.overwriteSlices(fiveMin, paths.player5min, Seq("summary_date"))

    val tier5 = spark.read.parquet(paths.player5min)
    val oneHour = hourSlices.map(PlayerSummary.oneHour(tier5, _)).reduce(_ unionByName _)
    Sinks.overwriteSlices(oneHour, paths.player1h, Seq("summary_date"))

    val tier1h = spark.read.parquet(paths.player1h)
    Sinks.overwriteSlices(PlayerSummary.oneDay(tier1h, daySlice), paths.player1d, Seq("summary_date"))
  }

  /** Monthly rollup for both cascades (consumes the materialized 1d tiers;
    * re-run every cycle while the month is open, exactly like the reference's
    * realtime 1m tasks — idempotent via partition overwrite). */
  def runMonth(spark: SparkSession, paths: Paths, month: java.time.YearMonth): Unit = {
    def ts(x: java.time.LocalDateTime) = java.sql.Timestamp.valueOf(x)
    val slice = TaskSlice(freq_type = "1M",
      gte_time = ts(month.atDay(1).atStartOfDay()),
      lt_time = ts(month.plusMonths(1).atDay(1).atStartOfDay()))
    val trans1d = spark.read.parquet(paths.trans1d)
    Sinks.overwriteSlices(TransSummary.oneMonth(trans1d, slice),
      s"${paths.base}/trans_summary_1m", Seq("summary_month"))
    val player1d = spark.read.parquet(paths.player1d)
    Sinks.overwriteSlices(PlayerSummary.oneMonth(player1d, slice),
      s"${paths.base}/player_summary_1m", Seq("summary_month"))
  }

  /** Risk + registration reports for one day (consume the materialized tiers). */
  def runReportsDay(spark: SparkSession, players: DataFrame, paths: Paths,
      day: java.time.LocalDate, now: java.sql.Timestamp): Unit = {
    val (daySlice, _) = daySlices(day)
    val ps1h = spark.read.parquet(paths.player1h)
    val ps1d = spark.read.parquet(paths.player1d)
    val ts1h = spark.read.parquet(paths.trans1h)
    val ts1d = spark.read.parquet(paths.trans1d)

    Sinks.overwriteSlices(
      RiskCtrl.playerOneDay(ps1h, ts1h, ps1d, ts1d, daySlice),
      paths.riskPlayer1d, Seq("summary_date"))
    Sinks.overwriteSlices(
      RiskCtrl.gameOneDay(ps1h, ps1d, daySlice),
      paths.riskGame1d, Seq("summary_date"))

    val snapshot = RiskCtrl.rtpSnapshot(ps1h, daySlice)
    val old = Sinks.readOrEmpty(spark, paths.riskRtp1d, snapshot.schema)
    // the ledger merge operates on THIS day's partition (the reference reads
    // WHERE summary_date = d); first run has no ledger columns yet -> empty
    val oldForDay =
      if (old.columns.contains("alert_count")) old.filter(col("summary_date") === daySlice.dateInt)
      else old.limit(0)
    // The merge below dynamic-partition-overwrites the SAME path the ledger
    // was just read from. Path-based V1 overwrites bypass Spark's
    // cannot-overwrite-a-read-path guard, and a failed/retried write job
    // could lose the day's alert state. localCheckpoint() materializes the
    // old rows BEFORE the target partitions are replaced, cutting the lineage
    // back to the files being overwritten.
    val oldMaterialized = oldForDay.localCheckpoint()
    Sinks.overwriteSlices(
      RiskCtrl.rtpLedgerMerge(oldMaterialized, snapshot, now),
      paths.riskRtp1d, Seq("summary_date"))

    val ps5 = spark.read.parquet(paths.player5min)
    Sinks.overwriteSlices(
      NewRegisterSummary.oneDay(ps5, players, daySlice),
      paths.newRegister1d, Seq("summary_date"))
  }
}
