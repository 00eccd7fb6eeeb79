package graftbench

import graft.etl.{Schemas, TaskSlice}
import graft.orchestrate.TaskLedger
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Task-board helpers of the cascade_live workload: the board lives as
  * parquet at one path, in the full `Schemas.taskBoard` shape. */
object Ledger {
  val Classes = Seq("trans_summary", "player_summary")

  def ts(t: java.time.LocalDateTime): java.sql.Timestamp = java.sql.Timestamp.valueOf(t)

  private val Fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def fmt(t: java.time.LocalDateTime): String = t.format(Fmt)

  def reports(freqs: Seq[(String, String, Int)]): Seq[TaskLedger.ReportDef] =
    for (c <- Classes; (suffix, freq, level) <- freqs)
      yield TaskLedger.ReportDef(c, s"${c}_$suffix", freq, level)

  /** Any board-shaped frame in the board's column order and types. */
  def conform(df: DataFrame): DataFrame =
    df.select(Schemas.taskBoard.fields.toSeq.map { f =>
      val c =
        if (df.columns.contains(f.name)) col(f.name)
        else if (f.name == "retry" || f.name == "done") lit(0)
        else lit(null)
      c.cast(f.dataType).as(f.name)
    }: _*)

  def emptyBoard(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.taskBoard)

  /** One producer cycle: watermarks -> new slices up to `now` -> append. */
  def produce(spark: SparkSession, board: String, now: java.time.LocalDateTime): Unit = {
    val wm = TaskLedger.watermarkScan(spark.read.parquet(board))
    graft.io.Sinks.append(conform(TaskLedger.newTasks(wm, ts(now))), board)
  }

  /** Rewrite the board with `completed` marked done. The new board is
    * materialized before the overwrite removes the files it was read from. */
  def markDone(spark: SparkSession, board: String, completed: DataFrame,
      now: java.time.LocalDateTime): Unit = {
    val next = TaskLedger.markDone(spark.read.parquet(board), completed, ts(now)).localCheckpoint()
    next.write.mode("overwrite").parquet(board)
  }

  /** The dependency gate over the undone slices of one report class. The
    * gate matches finer slices to a coarse one by assignee, so each finer
    * slice is looked up under its coarser tier's assignee (the report's
    * 5min rows count toward its 1h slices, 1h rows toward 1d). */
  def gate(board: DataFrame, reportClass: String): DataFrame = {
    val a = col("assignee")
    val aligned = board.withColumn("assignee",
      when(col("freq_type") === "5min", regexp_replace(a, "_5min$", "_1h"))
        .when(col("freq_type") === "1H", regexp_replace(a, "_1h$", "_1d"))
        .otherwise(a))
    TaskLedger.gateWithBypass(
      TaskLedger.scanUndone(board, emptyBoard(board.sparkSession), reportClass), aligned)
  }

  def slice(reportClass: String, row: Row): TaskSlice = TaskSlice(
    platform = row.getAs[String]("platform"),
    site_code = row.getAs[String]("site_code"),
    game_code = row.getAs[String]("game_code"),
    report_class = reportClass,
    assignee = row.getAs[String]("assignee"),
    freq_type = row.getAs[String]("freq_type"),
    gte_time = row.getAs[java.sql.Timestamp]("gte_time"),
    lt_time = row.getAs[java.sql.Timestamp]("lt_time"))

  /** Every (assignee, freq, slice start) appears once and is done; returns
    * the number of rows that break this among slices ending by `until`. */
  def notDoneOnce(spark: SparkSession, board: String, until: java.time.LocalDateTime): Long =
    spark.read.parquet(board)
      .filter(col("lt_time") <= lit(ts(until)))
      .groupBy("assignee", "freq_type", "gte_time")
      .agg(count(lit(1)).as("n"), min("done").as("done"))
      .filter(col("n") =!= 1 || col("done") =!= 1)
      .count()

  /** Rows of `a` missing from `b` plus rows of `b` missing from `a`,
    * compared bitwise on `a`'s columns (a multiset difference). */
  def diff(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.toSeq.map(col)
    val bb = b.select(cols: _*)
    a.select(cols: _*).exceptAll(bb).count() + bb.exceptAll(a.select(cols: _*)).count()
  }
}
