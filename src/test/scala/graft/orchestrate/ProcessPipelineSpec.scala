package graft.orchestrate

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ProcessPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import ProcessPipeline._

  test("pipeline threads data through steps and returns the final frame") {
    val result = ProcessPipeline.run(spark, "producer", Seq(
      step("scan") { (_, s) => Some(s.range(10).toDF("id")) },
      step("filter") { (d, _) => d.map(_.filter(col("id") < 5)) },
      step("tag") { (d, _) => d.map(_.withColumn("ok", lit(true))) }))
    assert(result.isRight)
    assert(result.toOption.get.get.count() === 5)
  }

  test("a failing step retries, records the error, notifies, and halts") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val sent = scala.collection.mutable.ArrayBuffer.empty[String]
    val errPath = java.nio.file.Files.createTempDirectory("graft_err").toString + "/error_log"
    val notifier = new Notifier {
      override def send(title: String, e: PipelineError): Unit = sent += formatAlert(title, e)
    }
    val result = ProcessPipeline.run(spark, "producer", Seq(
      step("scan") { (_, s) => Some(s.range(3).toDF("id")) },
      step("boom") { (_, _) => attempts.incrementAndGet(); sys.error("db down") },
      step("never") { (d, _) => fail("step after failure must not run"); d }),
      errorLogPath = Some(errPath), notifier = notifier, tries = 3, delayMs = 1,
      clock = () => java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))

    assert(result.isLeft)
    assert(attempts.get() === 3, "step must retry `tries` times")
    assert(sent.size === 1)
    // the exact field block the reference's transport sends (TGMessage.py)
    val payload = sent.head
    assert(payload.startsWith("***** producer Error *****\n"))
    assert(payload.contains("pipeline: producer\n"))
    assert(payload.contains("process: boom\n"))
    assert(payload.contains("content: java.lang.RuntimeException: db down"))
    assert(payload.contains("time: 2024-01-01 00:00:00"))
    val log = spark.read.parquet(errPath)
    assert(log.count() === 1)
    val row = log.head
    assert(row.getAs[String]("process") === "boom")
    assert(row.getAs[String]("content").contains("db down"))
  }

  test("an interrupt propagates at once: no retry, no error record") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errPath = java.nio.file.Files.createTempDirectory("graft_err").toString + "/error_log"
    val notifier = new Notifier {
      override def send(title: String, e: PipelineError): Unit = fail("an interrupt is not a step failure")
    }
    intercept[InterruptedException] {
      ProcessPipeline.run(spark, "producer", Seq(
        step("wait") { (_, _) => attempts.incrementAndGet(); throw new InterruptedException("stop") }),
        errorLogPath = Some(errPath), notifier = notifier, tries = 3, delayMs = 1)
    }
    assert(attempts.get() === 1)
    assert(!new java.io.File(errPath).exists())
  }

  test("dep gate bypass: 5min and pass-listed assignees flow through matched") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val tasks = Seq(
      ("ALL", "ALL", "ALL", "t5", "5min", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00")),
      ("ALL", "ALL", "ALL", "skip_me", "1H", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
      ("ALL", "ALL", "ALL", "gated", "1H", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")))
      .toDF("platform", "site_code", "game_code", "assignee", "freq_type", "gte_time", "lt_time")
    val board = Seq(
      ("ALL", "ALL", "ALL", "gated", "x", "5min", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00"), 1))
      .toDF("platform", "site_code", "game_code", "assignee", "report_class", "freq_type", "gte_time", "lt_time", "done")
    val gated = TaskLedger.gateWithBypass(tasks, board, passDepCheck = Set("skip_me"))
    val byAssignee = gated.collect().map(r => r.getAs[String]("assignee") -> r.getAs[Int]("matched")).toMap
    assert(byAssignee("t5") === 1)
    assert(byAssignee("skip_me") === 1)
    assert(byAssignee("gated") === 0) // only 1 of 12 5min slices done
  }
}
