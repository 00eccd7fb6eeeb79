package graft.etl

import graft.ops.Cols.eqOrAll
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, when}
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

/** One work item: a report × time-slice (the typed task-board row).
  *
  * Its members are the slice's encodings, written once for every etl
  * operator: the `[gte, lt)` window literals (P2), the int date keys (F2),
  * the start stamp, the 'ALL'-wildcard scope (P1) and each coarse tier's cut
  * of the tier below (A4). */
case class TaskSlice(
    platform: String = "ALL",
    site_code: String = "ALL",
    game_code: String = "ALL",
    report_class: String = "",
    assignee: String = "",
    freq_type: String = "5min",
    level: Int = 100,
    gte_time: java.sql.Timestamp = java.sql.Timestamp.valueOf("1970-01-01 00:00:00"),
    lt_time: java.sql.Timestamp = java.sql.Timestamp.valueOf("1970-01-01 00:00:00")) {

  private def start = gte_time.toLocalDateTime

  /** The window bounds as the literals `Cols.inWindow` compares with. */
  private[graft] def gte: String = TaskSlice.text(gte_time)
  private[graft] def lt: String = TaskSlice.text(lt_time)

  /** yyyymmdd of the slice start (trans_summary_5min.py:96), or of the day
    * `days` before it. */
  private[graft] def dateInt: Int = dateIntBefore(0)
  private[graft] def dateIntBefore(days: Int): Int =
    start.minusDays(days).format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE).toInt
  private[graft] def monthInt: Int = start.getYear * 100 + start.getMonthValue

  /** The slice start as the `start_time` of the rows it produces. */
  private[graft] def startStamp: Column = TaskSlice.stamp(gte_time)

  /** The wildcard scope on platform and site_code, and with game_code. */
  private[graft] def scope: Column =
    eqOrAll(col("platform"), platform) && eqOrAll(col("site_code"), site_code)
  private[graft] def gameScope: Column = scope && eqOrAll(col("game_code"), game_code)

  /** The 5min, 1h and 1d rows that this 1h, 1d or 1m slice rolls up. */
  private[etl] def hourCut: TierCut = TierCut(
    col("summary_date") === dateInt && col("hours") === start.getHour,
    Seq("summary_date" -> lit(dateInt), "hours" -> lit(start.getHour), "start_time" -> startStamp))
  private[etl] def dayCut: TierCut = TierCut(
    col("summary_date") === dateInt,
    Seq("summary_date" -> lit(dateInt), "start_time" -> startStamp))
  private[etl] def monthCut: TierCut = TierCut(
    col("summary_date") >= monthInt * 100 && col("summary_date") < (monthInt + 1) * 100,
    Seq("summary_month" -> lit(monthInt), "start_time" -> startStamp))
}

object TaskSlice {
  /** `ts` in local time as "yyyy-MM-dd HH:mm[:ss]", the form Spark casts to
    * a timestamp in the session time zone. */
  private[graft] def text(ts: java.sql.Timestamp): String =
    ts.toLocalDateTime.toString.replace('T', ' ')

  /** `ts` as a timestamp literal column. */
  private[graft] def stamp(ts: java.sql.Timestamp): Column = lit(text(ts)).cast("timestamp")

  /** A per-slice 5-min row's column order: `start_time` right after `mins`
    * (the one-pass range aggregation groups on it, so it comes out after
    * the keys there). */
  private[etl] def startAfterMins(df: DataFrame): DataFrame = {
    val rest = df.columns.toSeq.filterNot(_ == "start_time")
    val (head, tail) = rest.splitAt(rest.indexOf("mins") + 1)
    df.select((head ++ ("start_time" +: tail)).map(col): _*)
  }
}

/** A coarse tier's cut of the tier below (`rows`) and the columns that stamp
  * its rolled-up rows, in output order. */
private[etl] case class TierCut(rows: Column, stamps: Seq[(String, Column)]) {
  def stamp(df: DataFrame): DataFrame =
    stamps.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
}

/** Risk thresholds (report_config.py risk_ctrl_1d_config +
  * player_summary_rtp_config). Keep each type: an Int threshold would compare
  * the decimal `profit_amount` differently from a Double one. */
object RtpConfig {
  val profitThreshold: Double = 10000
  val profitUnconditional: Double = 50000
  val rtpThreshold: Double = 1
  val betCountThreshold: Long = 10
  val timeToAlertMinutes: Double = 1
  val alertLimit: Int = 5

  /** F1: the risky flag of the player tiers and the rtp snapshot, as ordered
    * masks (player_summary_5min.py:136-148): base rule, then the
    * unconditional profit override. The LAST pandas mask is the FIRST `when`
    * branch (later masks win in pandas; first match wins in `when`). */
  def risky(profit: Column, betCount: Column, rtp: Column): Column =
    when(profit >= profitUnconditional, 1)
      .when(profit >= profitThreshold && betCount >= betCountThreshold && rtp >= rtpThreshold, 1)
      .otherwise(0)
}

/** Sigma floors (report_config.py default_value_player / default_value_game). */
case class SigmaFloors(bWma: Double, bWmasd: Double, pWma: Double, pWmasd: Double,
    transWma: Double, transWmasd: Double)

object SigmaFloors {
  val player: SigmaFloors = SigmaFloors(
    bWma = 5000000, bWmasd = 5000000,
    pWma = 1000000, pWmasd = 1000000,
    transWma = 5000000, transWmasd = 5000000)
  val game: SigmaFloors = SigmaFloors(
    bWma = 50000000, bWmasd = 50000000,
    pWma = 10000000, pWmasd = 10000000,
    transWma = 50000000, transWmasd = 50000000)
}

/** Currency conversion rates by country (report_config.py country_rate). */
object CountryRates {
  val rates: Map[String, Double] = Map("THB" -> 0.05, "VND2" -> 1.0, "INR" -> 1.0, "PHP" -> 1.0)
}

/** risk_score weights (report_config.py risk_score_multi). */
object RiskWeights {
  val b: Double = 10
  val wl: Double = 50
  val trans: Double = 25
  val pTransMulti: Double = 100
}
