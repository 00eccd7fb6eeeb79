package graft.tools

import graft.{Sessions, Tables}
import graft.etl.Pipeline
import org.apache.spark.sql.functions._

/** End-to-end smoke of the full report pipeline on the sf0.001 fixtures:
  * derive reference-shaped logs from events, run one day's trans + player
  * cascades and all daily reports into a temp warehouse, print row counts
  * per materialized table, run the day AGAIN and verify idempotency.
  *
  * Usage: sbt "runMain graft.tools.RunCascade [sfDir] [outDir]"
  */
object RunCascade {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_cascade").toString)
    val spark = Sessions.local(Sessions.cpus, "graft-cascade")
    spark.sparkContext.setLogLevel("ERROR")

    // fixture binding (FIXTURES.md §C): events -> reference-shaped logs
    val ev = Tables.events(spark, sfDir)
    val valueLog = ev.select(
      concat(lit("P"), (col("user_id") % 2).cast("string")).as("platform"),
      concat(lit("S"), (col("user_id") % 5).cast("string")).as("site_code"),
      concat(lit("u"), col("user_id").cast("string")).as("player_name"),
      concat(lit("C"), (col("user_id") % 4).cast("string")).as("country"),
      when(col("event_type") === "purchase", "IN")
        .when(col("event_type") === "view", "OUT").otherwise("XFER").as("trade_type"),
      col("value"), (col("value") * 2).as("before_value"), (col("value") * 0.9).as("after_value"),
      date_format(col("ts"), "yyyyMMdd").cast("int").as("trade_date"),
      when(col("event_type") === "error", "FAIL").otherwise("SUCCESS").as("trade_status"),
      col("ts").as("trade_time")).cache()
    val profitLog = ev.select(
      concat(lit("P"), (col("user_id") % 2).cast("string")).as("platform"),
      concat(lit("S"), (col("user_id") % 5).cast("string")).as("site_code"),
      concat(lit("g"), (col("event_id") % 3).cast("string")).as("game_code"),
      concat(lit("u"), col("user_id").cast("string")).as("player_name"),
      concat(lit("C"), (col("user_id") % 4).cast("string")).as("country"),
      col("value").as("bet"), (col("value") * 0.98).as("win"), (col("value") * 0.02).as("fee"),
      (col("value") * 0.98 - col("value")).as("profit"), lit(0.0).as("refund"),
      col("value").as("normal_value"), lit(0.0).as("bonus_value"),
      (col("value") - 30.0).as("free_value"), (col("value") - 50.0).as("jp_value"),
      col("value").as("valid_value"), lit(0.0).as("cancel_value"),
      col("ts").as("round_time"), (col("event_id") % 10 === 0).cast("int").as("is_robot")).cache()
    val gameSites = Tables.nation(spark, sfDir).groupBy(
      concat(lit("P"), (col("n_nationkey") % 2).cast("string")).as("platform"),
      concat(lit("S"), (col("n_nationkey") % 5).cast("string")).as("code"))
      .agg((max(col("n_regionkey")) / 10.0).as("ratio"))
    val players = ev.groupBy(
      concat(lit("u"), col("user_id").cast("string")).as("player_name"))
      .agg(min(col("ts")).cast("timestamp").as("reg_time"))
      .withColumn("platform", lit("P0")).withColumn("site_code", lit("S0"))
      .withColumn("type", lit("NORMAL")).withColumn("status", lit("ACTIVATE"))

    val day = java.time.LocalDate.of(2024, 1, 1)
    val now = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val paths = Pipeline.Paths(outDir)

    def runAll(): Map[String, Long] = {
      Pipeline.runTransDay(spark, valueLog, paths, day)
      Pipeline.runPlayerDay(spark, profitLog, gameSites, paths, day)
      Pipeline.runReportsDay(spark, players, paths, day, now)
      Pipeline.runMonth(spark, paths, java.time.YearMonth.of(2024, 1))
      Seq(
        "trans_1m" -> s"$outDir/trans_summary_1m", "player_1m" -> s"$outDir/player_summary_1m",
        "trans_5min" -> paths.trans5min, "trans_1h" -> paths.trans1h, "trans_1d" -> paths.trans1d,
        "player_5min" -> paths.player5min, "player_1h" -> paths.player1h, "player_1d" -> paths.player1d,
        "risk_player_1d" -> paths.riskPlayer1d, "risk_game_1d" -> paths.riskGame1d,
        "risk_rtp_1d" -> paths.riskRtp1d, "new_register_1d" -> paths.newRegister1d)
        .map { case (n, p) => n -> spark.read.parquet(p).count() }.toMap
    }

    val first = runAll()
    first.toSeq.sortBy(_._1).foreach { case (n, c) => println(f"CASCADE $n%-16s $c%6d rows") }
    require(first.values.forall(_ > 0), "some cascade table is empty")

    // idempotency: the whole day re-runs into identical row counts
    val second = runAll()
    require(first == second, s"rerun changed row counts: $first vs $second")
    println("CASCADE idempotent rerun OK")

    spark.stop()
  }
}
