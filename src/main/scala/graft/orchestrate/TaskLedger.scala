package graft.orchestrate

import graft.ops.Cols._
import graft.time.Slicer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The task-board orchestration layer: DB-as-queue re-expressed as a parquet
  * ledger of `TaskSlice` rows (task-producer and task-executor/utils/
  * ExecUtils.py).
  *
  * The reference's producer cycle (main.py:61-71): scan per-key watermarks ->
  * extend to now with freq-aware ceiling -> explode into slices -> publish.
  * Every step below is set-based; the reference's per-row loops (N+1 dep
  * counts GetTaskDepCount.py:39-65, row-at-a-time status UPDATEs
  * ExecUtils.py:34-84) become single joins/aggregations.
  */
object TaskLedger {

  val taskKeys = Seq("platform", "site_code", "game_code", "assignee")

  /** Typed view of a board DataFrame (SURVEY §1.3): orchestration logic gets
    * compile-time field checks via Dataset[TaskSlice]; analytic queries stay
    * DataFrame. Extra physical columns (create_time, done, ...) are dropped
    * by the encoder projection. */
  def typedSlices(board: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Dataset[graft.etl.TaskSlice] = {
    val spark = board.sparkSession
    import spark.implicits._
    board.select(
      coalesce(col("platform"), lit("ALL")).as("platform"),
      coalesce(col("site_code"), lit("ALL")).as("site_code"),
      coalesce(col("game_code"), lit("ALL")).as("game_code"),
      coalesce(col("report_class"), lit("")).as("report_class"),
      coalesce(col("assignee"), lit("")).as("assignee"),
      coalesce(col("freq_type"), lit("5min")).as("freq_type"),
      coalesce(col("level"), lit(100)).cast("int").as("level"),
      col("gte_time").cast("timestamp").as("gte_time"),
      col("lt_time").cast("timestamp").as("lt_time"))
      .as[graft.etl.TaskSlice]
  }

  /** A12: per-key low watermark — max(lt_time) per (platform, site_code,
    * game_code, assignee) (ScanTaskBoard.py:18-21). MariaDB's non-strict
    * GROUP BY returned arbitrary companion columns; the engine pins them with
    * max_by(_, lt_time) for deterministic semantics. */
  def watermarkScan(board: DataFrame): DataFrame =
    board.groupBy(taskKeys.map(col): _*)
      .agg(
        max(col("lt_time")).as("lt_time"),
        max_by(col("report_class"), col("lt_time")).as("report_class"),
        max_by(col("freq_type"), col("lt_time")).as("freq_type"),
        max_by(col("level"), col("lt_time")).as("level"))

  /** S8: union scan of both boards with a rerun tag (ExecUtils.py:11-31).
    *
    * The result is unordered. O1's priority order (level, gte_time —
    * ScasTransSummaryTask.py:14) belongs to whatever iterates the collected
    * slices: a global sort here would cost a range-sampling job and a
    * shuffle per scan, and `gateWithBypass`, its consumer, passes the rows
    * through a union that does not keep the order anyway. */
  def scanUndone(taskBoard: DataFrame, rerunBoard: DataFrame, reportClass: String): DataFrame =
    taskBoard.filter(col("done") === 0 && col("report_class") === reportClass)
      .withColumn("is_rerun", lit(0))
      .unionByName(
        rerunBoard.filter(col("done") === 0 && col("report_class") === reportClass)
          .withColumn("is_rerun", lit(1)))

  /** Producer: extend each watermark to `now`, ceiled per frequency
    * (GetNewTaskList.py:34-71: gte := last lt; lt := ceil(now) for 1H/1D/1M,
    * raw now for 5min — the slicer only emits whole slices anyway), then
    * explode into publishable slices. `now` is injected (SURVEY §7.4.4). */
  def newTasks(watermarks: DataFrame, now: java.sql.Timestamp): DataFrame = {
    val nowLit = lit(now.toLocalDateTime.toString.replace('T', ' ')).cast("timestamp")
    val ranged = watermarks
      .withColumn("gte_time", col("lt_time"))
      .withColumn("lt_time",
        when(col("freq_type") === "1H", Slicer.ceilTo(nowLit, "1H"))
          .when(col("freq_type") === "1D", Slicer.ceilTo(nowLit, "1D"))
          .when(col("freq_type") === "1M", Slicer.ceilTo(nowLit, "1M"))
          .otherwise(nowLit))
    Slicer.explodeSlices(ranged)
      .withColumn("create_time", nowLit)
      .withColumn("done", lit(0))
      .withColumn("retry", lit(0))
  }

  /** A11 set-based dependency gate (GetTaskDepCount.py:27-92 runs one COUNT
    * query per coarse task; here: ONE aggregation of finished finer tasks
    * joined to the coarse tasks, then the 12/24/days-in-month threshold).
    *
    * A coarse task is released when every finer slice inside its window is
    * done: 1H needs 12 x 5min, 1D needs 24 x 1H, 1M needs days-in-month x 1D.
    */
  def depGate(coarseTasks: DataFrame, board: DataFrame): DataFrame = {
    val finerOf = typedlit(Map("1H" -> "5min", "1D" -> "1H", "1M" -> "1D"))
    val done = board.filter(col("done") === 1)
      .select(taskKeys.map(col) :+ col("freq_type").as("dep_freq") :+
        col("gte_time").as("dep_gte") :+ col("lt_time").as("dep_lt"): _*)

    val expected =
      when(col("freq_type") === "1H", lit(12))
        .when(col("freq_type") === "1D", lit(24))
        .when(col("freq_type") === "1M",
          dayofmonth(last_day(col("gte_time"))))
        .otherwise(lit(0))

    val counted = coarseTasks.alias("t")
      .join(done.alias("d"),
        taskKeys.map(k => col(s"t.$k") === col(s"d.$k")).reduce(_ && _) &&
          col("d.dep_freq") === element_at(finerOf, col("t.freq_type")) &&
          col("d.dep_gte") >= col("t.gte_time") && col("d.dep_lt") <= col("t.lt_time"),
        "left")
      .groupBy((taskKeys.map(k => col(s"t.$k").as(k)) :+ col("t.freq_type").as("freq_type") :+
        col("t.gte_time").as("gte_time") :+ col("t.lt_time").as("lt_time")): _*)
      .agg(count(col("d.dep_gte")).as("dep_count"))

    counted.withColumn("matched", (col("dep_count") >= expected).cast("int"))
  }

  /** Dep gate with the reference's bypasses (GetTaskDepCount.py:29-37):
    * 5min tasks have no dependency and pass-listed assignees skip the check —
    * both flow through with matched=1, dep_count=0; everything else goes
    * through [[depGate]]. (The reference checks dep_count == threshold
    * exactly; the engine uses >= , identical under exact slice tiling and
    * tolerant of duplicated done rows.) */
  def gateWithBypass(tasks: DataFrame, board: DataFrame,
      passDepCheck: Set[String] = Set.empty): DataFrame = {
    val bypassCond = col("freq_type") === "5min" ||
      col("assignee").isin(passDepCheck.toSeq: _*)
    val bypassed = tasks.filter(bypassCond)
      .select((taskKeys.map(col) :+ col("freq_type") :+ col("gte_time") :+ col("lt_time")): _*)
      .withColumn("dep_count", lit(0L))
      .withColumn("matched", lit(1))
    depGate(tasks.filter(!bypassCond), board).unionByName(bypassed)
  }

  /** J8: dep-log refresh (FilterNotMatched.py:26-96). The gate's unmatched
    * coarse tasks are persisted with their current dep_count; on the next
    * cycle the stored log is left-joined with this round's counts and the
    * count/matched columns are overwritten from the fresh side, plus
    * brand-new unmatched tasks are appended (the reference's
    * concat+drop_duplicates(keep=False) anti-join idiom). Returns the new
    * log; matched rows stay for audit, exactly like the reference. */
  def refreshDepLog(oldLog: DataFrame, gated: DataFrame): DataFrame = {
    val logKeys = taskKeys ++ Seq("freq_type", "gte_time", "lt_time")
    val fresh = gated.select(
      (logKeys.map(col) :+ col("dep_count").as("dep_count_new") :+
        col("matched").as("matched_new")): _*)
    if (oldLog.isEmpty) {
      return gated.select((logKeys.map(col) :+ col("dep_count") :+ col("matched")): _*)
    }
    val updated = oldLog.join(fresh, logKeys, "left")
      .select((logKeys.map(col) :+
        coalesce(col("dep_count_new"), col("dep_count")).as("dep_count") :+
        coalesce(col("matched_new"), col("matched")).as("matched")): _*)
    val appended = gated.join(oldLog, logKeys, "left_anti")
      .select((logKeys.map(col) :+ col("dep_count") :+ col("matched")): _*)
    updated.unionByName(appended)
  }

  /** One report entry in the init config (initialize/init_config shape). */
  case class ReportDef(report_class: String, assignee: String, freq_type: String, level: Int)

  /** Bootstrap date structure (initialize/init_main.py:8-44): one seed range
    * per frequency; the 1M row is backdated to LAST month so the first
    * producer cycle computes an (empty) month and completes initialization. */
  def dateStructure(spark: SparkSession, initDate: String): DataFrame = {
    import spark.implicits._
    val d = java.time.LocalDateTime.parse(initDate.replace(' ', 'T'))
    val currMonth = d.toLocalDate.withDayOfMonth(1).atStartOfDay
    val lastMonth = currMonth.minusMonths(1)
    def ts(x: java.time.LocalDateTime) = java.sql.Timestamp.valueOf(x)
    Seq(
      ("5min", ts(d), ts(d.plusMinutes(5))),
      ("1H", ts(d), ts(d.plusHours(1))),
      ("1D", ts(d), ts(d.plusDays(1))),
      ("1M", ts(lastMonth), ts(currMonth)))
      .toDF("freq_type", "gte_time", "lt_time")
  }

  /** J9: init fan-out — report defs joined to the date structure on
    * freq_type (init_main.py:47-68), stamped with the platform scope. */
  def initTaskList(spark: SparkSession, reports: Seq[ReportDef], initDate: String,
      platform: String = "ALL", siteCode: String = "ALL", gameCode: String = "ALL"): DataFrame = {
    import spark.implicits._
    reports.toDF()
      .join(broadcast(dateStructure(spark, initDate)), Seq("freq_type"), "left")
      .withColumn("platform", lit(platform))
      .withColumn("site_code", lit(siteCode))
      .withColumn("game_code", lit(gameCode))
      .withColumn("done", lit(0))
  }

  /** J10: monthly dependency backfill — for every report that has BOTH a 1M
    * and a 1D entry, synthesize the 1D slices from the month start up to the
    * init day and mark them done, so the first month-end dep check passes
    * (init_main.py:72-98; disabled in the reference's main since reports
    * became realtime — kept for the gated mode). */
  def monthlyDepInit(initTasks: DataFrame): DataFrame = {
    val m = initTasks.filter(col("freq_type") === "1M")
      .select(col("report_class"), col("lt_time").as("m_lt"), col("gte_time").as("m_gte"))
    val deps = initTasks.filter(col("freq_type") === "1D")
      .join(m, Seq("report_class"))
      .withColumn("lt_time", col("gte_time"))   // D start becomes the upper bound
      .withColumn("gte_time", col("m_lt"))      // month end becomes the lower bound
      .drop("m_lt", "m_gte")
      .filter(col("gte_time") =!= col("lt_time"))
    Slicer.explodeSlices(deps).withColumn("done", lit(1))
  }

  /** S9 set-based status update: mark the given slices done with runtime
    * accounting (ExecUtils.py:56-84's per-row UPDATE loop as one join). */
  def markDone(board: DataFrame, completed: DataFrame, now: java.sql.Timestamp): DataFrame = {
    val nowLit = lit(now.toLocalDateTime.toString.replace('T', ' ')).cast("timestamp")
    val hit = completed
      .select(taskKeys.map(col) :+ col("freq_type") :+ col("gte_time") :+ col("lt_time"): _*)
      .withColumn("_hit", lit(1))
    board.join(hit, taskKeys ++ Seq("freq_type", "gte_time", "lt_time"), "left")
      .withColumn("done", when(col("_hit") === 1, 1).otherwise(col("done")))
      .withColumn("complete_time", when(col("_hit") === 1, nowLit).otherwise(col("complete_time")))
      .withColumn("runtime_second",
        when(col("_hit") === 1,
          unix_timestamp(nowLit) - unix_timestamp(coalesce(col("apply_time"), nowLit)))
          .otherwise(col("runtime_second")))
      .drop("_hit")
  }
}
