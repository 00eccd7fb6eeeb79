package graft.etl

import org.apache.spark.sql.types._

/** Explicit schemas for the reference's data model (SURVEY §1.4, FIXTURES §A).
  *
  * The reference has no schema registry — its schemas live in an external
  * MariaDB's DDL. The engine states the task board's schema as an explicit
  * StructType, and a task-board row is the case class `TaskSlice` that every
  * etl operator takes as its slice.
  */
object Schemas {

  /** task_board / rerun_board (ExecUtils.py:12-20, ProduceNewTask.py:9-11). */
  val taskBoard: StructType = StructType(Seq(
    StructField("create_time", TimestampType),
    StructField("level", IntegerType),
    StructField("platform", StringType),
    StructField("site_code", StringType),
    StructField("game_code", StringType),
    StructField("report_class", StringType),
    StructField("assignee", StringType),
    StructField("freq_type", StringType),       // '5min'|'1H'|'1D'|'1M'
    StructField("gte_time", TimestampType),
    StructField("lt_time", TimestampType),
    StructField("apply_time", TimestampType),
    StructField("complete_time", TimestampType),
    StructField("runtime_second", LongType),
    StructField("retry", IntegerType),
    StructField("done", IntegerType)))
}

/** One work item: a report × time-slice (the typed task-board row). */
case class TaskSlice(
    platform: String = "ALL",
    site_code: String = "ALL",
    game_code: String = "ALL",
    report_class: String = "",
    assignee: String = "",
    freq_type: String = "5min",
    level: Int = 100,
    gte_time: java.sql.Timestamp = java.sql.Timestamp.valueOf("1970-01-01 00:00:00"),
    lt_time: java.sql.Timestamp = java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))

/** Risk thresholds — mirrors report_config.py risk_ctrl_1d_config +
  * player_summary_rtp_config verbatim. */
case class RtpConfig(
    profitThreshold: Double = 10000,
    profitUnconditional: Double = 50000,
    rtpThreshold: Double = 1,
    betCountThreshold: Long = 10,
    timeToAlertMinutes: Double = 1,
    alertLimit: Int = 5)

/** Sigma floors (report_config.py default_value_player / default_value_game). */
case class SigmaFloors(
    bWma: Double = 5000000, bWmasd: Double = 5000000,
    pWma: Double = 1000000, pWmasd: Double = 1000000,
    transWma: Double = 5000000, transWmasd: Double = 5000000)

object SigmaFloors {
  val player: SigmaFloors = SigmaFloors()
  val game: SigmaFloors = SigmaFloors(
    bWma = 50000000, bWmasd = 50000000,
    pWma = 10000000, pWmasd = 10000000,
    transWma = 50000000, transWmasd = 50000000)
}

/** Currency conversion rates by country (report_config.py country_rate). */
case class CountryRates(rates: Map[String, Double] =
    Map("THB" -> 0.05, "VND2" -> 1.0, "INR" -> 1.0, "PHP" -> 1.0))

/** risk_score weights (report_config.py risk_score_multi). */
case class RiskWeights(b: Double = 10, wl: Double = 50, trans: Double = 25, pTransMulti: Double = 100)
