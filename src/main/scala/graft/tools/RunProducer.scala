package graft.tools

import graft.Sessions
import graft.orchestrate.{ProcessPipeline, TaskLedger}
import org.apache.spark.sql.functions._

/** The producer cycle end-to-end (SURVEY §3.1), wired through the pipeline
  * runner against a parquet task board:
  *
  *   initialize -> [ScanTaskBoard -> GetNewTaskList -> ProduceNewTask] x 2
  *
  * First cycle: bootstrap rows explode into slices up to "now"; second cycle
  * advances "now" and produces only the delta (the watermark semantics).
  * Usage: sbt "runMain graft.tools.RunProducer [outDir]"
  */
object RunProducer {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_producer").toString)
    val board = s"$outDir/task_board"
    val spark = Sessions.local(Sessions.cpus, "graft-producer")
    spark.sparkContext.setLogLevel("ERROR")
    import ProcessPipeline._

    val reports = Seq(
      TaskLedger.ReportDef("trans_summary", "trans_summary_5min", "5min", 100),
      TaskLedger.ReportDef("trans_summary", "trans_summary_1h", "1H", 200),
      TaskLedger.ReportDef("player_summary", "player_summary_5min", "5min", 100),
      TaskLedger.ReportDef("player_summary", "player_summary_1d", "1D", 300))

    // one-shot init (initialize/init_main.py)
    graft.io.Sinks.append(
      TaskLedger.initTaskList(spark, reports, "2024-01-01 00:00:00"), board)

    def producerCycle(now: String) = ProcessPipeline.run(spark, "task_producer", Seq(
      step("ScanTaskBoard") { (_, s) =>
        Some(TaskLedger.watermarkScan(s.read.parquet(board)))
      },
      step("GetNewTaskList") { (wm, _) =>
        wm.map(TaskLedger.newTasks(_, java.sql.Timestamp.valueOf(now)))
      },
      step("ProduceNewTask") { (tasks, _) =>
        tasks.foreach(t => graft.io.Sinks.append(t
          .select("platform", "site_code", "game_code", "report_class", "assignee",
            "freq_type", "level", "gte_time", "lt_time", "create_time", "done", "retry"), board))
        tasks
      }))

    import spark.implicits._

    val c1 = producerCycle("2024-01-01 02:17:00")
    require(c1.isRight, s"cycle 1 failed: $c1")
    val after1 = spark.read.parquet(board)
    // Set-side assertion: the expected slice counts are a small literal
    // frame joined against the actual per-key aggregation; only a scalar
    // mismatch COUNT reaches the driver — no per-key map is ever collected,
    // so the check's cost is independent of board cardinality.
    // 5min: bootstrap [00:00,00:05) + catch-up [00:05, 02:17) -> 27 whole
    // slices; 1H: bootstrap [00:00,01:00) + [01:00, ceil(02:17)=03:00) -> 3.
    val expected1 = Seq(
      ("trans_summary_5min", "5min", 27L), ("trans_summary_1h", "1H", 3L))
      .toDF("assignee", "freq_type", "expect_n")
    val mismatch1 = after1.groupBy("assignee", "freq_type").count()
      .join(expected1, Seq("assignee", "freq_type"))
      .filter(col("count") =!= col("expect_n")).count()
    println(s"PRODUCER cycle1 rows=${after1.count()}")
    require(mismatch1 == 0, "5min/1H slice counts diverge from the watermark math")

    val c2 = producerCycle("2024-01-01 02:31:00")
    require(c2.isRight, s"cycle 2 failed: $c2")
    val after2 = spark.read.parquet(board)
    val delta = after2.count() - after1.count()
    // 5min watermark was 02:15 -> [02:15, 02:31) = 3 new slices per 5min report;
    // 1H watermark 03:00 > ceil(02:31)=03:00 -> no new 1H; 1D unchanged
    println(s"PRODUCER cycle2 delta=$delta")
    require(delta == 2 * 3, s"expected 6 new slices, got $delta")
    println("PRODUCER watermark advance OK")

    // rerun cycle (SURVEY §3.3): a manual request with all four frequency
    // flags cascades into aligned rerun tasks, slice-exploded and published
    // to the rerun board.
    val rerunBoard = s"$outDir/rerun_board"
    val request = Seq((
      "ALL", "ALL", "ALL", "trans_summary",
      java.sql.Timestamp.valueOf("2024-01-01 00:40:00"),
      java.sql.Timestamp.valueOf("2024-01-01 01:20:00"),
      1, 1, 1, 0))
      .toDF("platform", "site_code", "game_code", "report_class",
        "gte_time", "lt_time", "5min", "1h", "1d", "1m")
    val rerunCycle = ProcessPipeline.run(spark, "rerun_producer", Seq(
      step("GetRelatedTimeSplit") { (_, _) =>
        Some(graft.time.Slicer.cascadeRerun(request))
      },
      step("GetRerunTaskList") { (cascaded, _) =>
        cascaded.map(graft.time.Slicer.explodeSlices)
      },
      step("ProduceRerunTask") { (tasks, _) =>
        tasks.foreach(t => graft.io.Sinks.append(
          t.withColumn("done", lit(0)), rerunBoard))
        tasks
      }))
    require(rerunCycle.isRight, s"rerun cycle failed: $rerunCycle")
    val rerun = spark.read.parquet(rerunBoard)
    // 5min [00:40,01:20) -> 8 slices; 1H floor/ceil -> [00:00,02:00) -> 2;
    // 1D -> [01-01,01-02) -> 1; 1m flag off -> absent. Full-outer set
    // compare (an extra OR missing freq both surface) — scalar result only.
    val expectedRerun = Seq(("5min", 8L), ("1H", 2L), ("1D", 1L))
      .toDF("freq_type", "expect_n")
    val rerunBad = rerun.groupBy("freq_type").count()
      .join(expectedRerun, Seq("freq_type"), "full_outer")
      .filter(col("count").isNull || col("expect_n").isNull ||
        col("count") =!= col("expect_n")).count()
    require(rerunBad == 0, "unexpected rerun cascade counts")
    println("PRODUCER rerun cascade OK")
    spark.stop()
  }
}
