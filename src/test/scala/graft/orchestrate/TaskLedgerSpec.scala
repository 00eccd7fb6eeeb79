package graft.orchestrate

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TaskLedgerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val reports = Seq(
    TaskLedger.ReportDef("trans_summary", "trans_summary_5min", "5min", 100),
    TaskLedger.ReportDef("trans_summary", "trans_summary_1h", "1H", 200),
    TaskLedger.ReportDef("trans_summary", "trans_summary_1d", "1D", 300),
    TaskLedger.ReportDef("trans_summary", "trans_summary_1m", "1M", 400))

  test("init task list: one row per report def, date structure joined by freq") {
    val init = TaskLedger.initTaskList(spark, reports, "2024-03-15 00:00:00")
    assert(init.count() === 4)
    val m = init.filter(col("freq_type") === "1M").head
    assert(m.getAs[java.sql.Timestamp]("gte_time") === ts("2024-02-01 00:00:00"))
    assert(m.getAs[java.sql.Timestamp]("lt_time") === ts("2024-03-01 00:00:00"))
    val d = init.filter(col("freq_type") === "1D").head
    assert(d.getAs[java.sql.Timestamp]("lt_time") === ts("2024-03-16 00:00:00"))
    assert(init.filter(col("done") =!= 0).isEmpty)
  }

  test("watermark scan picks max lt_time with deterministic companions") {
    val board = Seq(
      ("ALL", "ALL", "ALL", "a1", "tc", "5min", 100, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:05:00"), 1),
      ("ALL", "ALL", "ALL", "a1", "tc", "5min", 100, ts("2024-01-01 00:05:00"), ts("2024-01-01 00:10:00"), 0))
      .toDF("platform", "site_code", "game_code", "assignee", "report_class",
        "freq_type", "level", "gte_time", "lt_time", "done")
    val wm = TaskLedger.watermarkScan(board)
    assert(wm.count() === 1)
    assert(wm.head.getAs[java.sql.Timestamp]("lt_time") === ts("2024-01-01 00:10:00"))
  }

  test("newTasks extends watermarks to the freq-ceiled now and slices them") {
    val wm = Seq(
      ("ALL", "ALL", "ALL", "t5", "tc", "5min", 100, ts("2024-01-01 10:00:00")),
      ("ALL", "ALL", "ALL", "t1h", "tc", "1H", 200, ts("2024-01-01 08:00:00")))
      .toDF("platform", "site_code", "game_code", "assignee", "report_class",
        "freq_type", "level", "lt_time")
    val now = ts("2024-01-01 10:17:00")
    val tasks = TaskLedger.newTasks(wm, now).cache()
    // 5min: [10:00, 10:17) -> 3 whole slices (10:00,10:05,10:10)
    assert(tasks.filter(col("assignee") === "t5").count() === 3)
    // 1H: [08:00, ceil(10:17)=11:00) -> 3 slices 08,09,10
    val h = tasks.filter(col("assignee") === "t1h")
    assert(h.count() === 3)
    assert(h.agg(max("lt_time")).head.getTimestamp(0) === ts("2024-01-01 11:00:00"))
    assert(tasks.filter(col("done") =!= 0).isEmpty)
    tasks.unpersist()
  }

  test("dep gate releases a 1H task only when all 12 5min slices are done") {
    def fiveMinRows(done: Int, n: Int) = (0 until n).map { i =>
      ("ALL", "ALL", "ALL", "a", "tc", "5min",
        ts(f"2024-01-01 10:${i * 5}%02d:00"), ts(if (i == 11) "2024-01-01 11:00:00" else f"2024-01-01 10:${i * 5 + 5}%02d:00"), done)
    }
    val coarse = Seq(("ALL", "ALL", "ALL", "a", "1H", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")))
      .toDF("platform", "site_code", "game_code", "assignee", "freq_type", "gte_time", "lt_time")

    val fullBoard = fiveMinRows(1, 12)
      .toDF("platform", "site_code", "game_code", "assignee", "report_class", "freq_type", "gte_time", "lt_time", "done")
    val gated = TaskLedger.depGate(coarse, fullBoard)
    assert(gated.head.getAs[Long]("dep_count") === 12)
    assert(gated.head.getAs[Int]("matched") === 1)

    val partialBoard = (fiveMinRows(1, 11) ++ fiveMinRows(0, 1).map(r => r.copy(_7 = ts("2024-01-01 10:55:00"), _8 = ts("2024-01-01 11:00:00"))))
      .toDF("platform", "site_code", "game_code", "assignee", "report_class", "freq_type", "gte_time", "lt_time", "done")
    val gated2 = TaskLedger.depGate(coarse, partialBoard)
    assert(gated2.head.getAs[Int]("matched") === 0)
  }

  test("full producer cycle stays set-side: init -> watermark -> produce -> execute -> mark -> gate") {
    import org.apache.spark.sql.DataFrame
    val defs = Seq(
      TaskLedger.ReportDef("trans_summary", "ts_5min", "5min", 100),
      TaskLedger.ReportDef("trans_summary", "ts_1h", "1H", 200))
    def withExecCols(df: DataFrame): DataFrame = df
      .withColumn("apply_time", lit(null).cast("timestamp"))
      .withColumn("complete_time", lit(null).cast("timestamp"))
      .withColumn("runtime_second", lit(null).cast("long"))

    // init + one producer cycle at 01:07 — every step a set operation
    val init = TaskLedger.initTaskList(spark, defs, "2024-01-01 00:00:00")
    val produced = TaskLedger.newTasks(
      TaskLedger.watermarkScan(init), ts("2024-01-01 01:07:00"))
    val board = withExecCols(
      init.unionByName(produced.select(init.columns.map(col): _*))).cache()

    // expected slice counts, asserted via join (scalar mismatch count only)
    // 5min: bootstrap [00:00,00:05) + [00:05, 01:07) -> 13; 1H: bootstrap +
    // [01:00, ceil(01:07)=02:00) -> 2
    val expected = Seq(("ts_5min", 13L), ("ts_1h", 2L)).toDF("assignee", "expect_n")
    val mismatches = board.groupBy("assignee").count()
      .join(expected, Seq("assignee"), "full_outer")
      .filter(col("count").isNull || col("expect_n").isNull ||
        col("count") =!= col("expect_n")).count()
    assert(mismatches === 0)

    // execute the undone 5min slices (scanUndone feeds the executor), mark
    // them done as one set-based update
    val todo = TaskLedger.scanUndone(board, board.limit(0), "trans_summary")
      .filter(col("freq_type") === "5min")
    val marked = TaskLedger.markDone(board, todo, ts("2024-01-01 01:08:00")).cache()
    assert(marked.filter(col("freq_type") === "5min" && col("done") === 1).count() === 13)
    assert(marked.filter(col("freq_type") === "1H" && col("done") === 1).isEmpty)

    // dependency gate over the marked board: the 1H slice [00:00,01:00) has
    // all 12 five-minute slices done -> released; [01:00,02:00) has only
    // [01:00,01:05) -> held. The gate keys on (platform, site, game,
    // assignee); with per-tier assignees the runner aligns the finer board's
    // assignee to the coarse report's before gating — still one set
    // operation, the same alignment the reference's report_class pairing does.
    val coarse = marked.filter(col("freq_type") === "1H")
      .select("platform", "site_code", "game_code", "assignee",
        "freq_type", "gte_time", "lt_time")
    val depsAligned = marked.filter(col("freq_type") === "5min")
      .withColumn("assignee", lit("ts_1h"))
    val gated = TaskLedger.depGate(coarse, depsAligned)
    assert(gated.filter(col("matched") === 1)
      .select("lt_time").head.getTimestamp(0) === ts("2024-01-01 01:00:00"))
    assert(gated.filter(col("matched") === 0).count() === 1)
    board.unpersist(); marked.unpersist()
  }

  test("markDone stamps completion and runtime on matching slices only") {
    val board = Seq(
      ("ALL", "ALL", "ALL", "a", "5min", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00"),
        ts("2024-01-01 10:06:00"), null.asInstanceOf[java.sql.Timestamp], null.asInstanceOf[java.lang.Long], 0),
      ("ALL", "ALL", "ALL", "a", "5min", ts("2024-01-01 10:05:00"), ts("2024-01-01 10:10:00"),
        null.asInstanceOf[java.sql.Timestamp], null.asInstanceOf[java.sql.Timestamp], null.asInstanceOf[java.lang.Long], 0))
      .toDF("platform", "site_code", "game_code", "assignee", "freq_type",
        "gte_time", "lt_time", "apply_time", "complete_time", "runtime_second", "done")
    val completed = board.filter(col("gte_time") === ts("2024-01-01 10:00:00"))
    val updated = TaskLedger.markDone(board, completed, ts("2024-01-01 10:06:30"))
    val byGte = updated.collect().map(r => r.getAs[java.sql.Timestamp]("gte_time") -> r).toMap
    assert(byGte(ts("2024-01-01 10:00:00")).getAs[Int]("done") === 1)
    assert(byGte(ts("2024-01-01 10:00:00")).getAs[Long]("runtime_second") === 30L)
    assert(byGte(ts("2024-01-01 10:05:00")).getAs[Int]("done") === 0)
  }
}
