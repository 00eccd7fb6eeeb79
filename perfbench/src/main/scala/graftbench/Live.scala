package graftbench

import graft.etl.{PlayerSummary, TaskSlice, TransSummary}
import graft.io.Sinks
import graft.orchestrate.TaskLedger
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `cascade_live`: the reference's steady state, as a closed loop on a
  * simulated clock that advances five minutes per tick.
  *
  * A tick at time T runs one producer cycle, drains what the dependency
  * gate releases (the 5-min slice [T-5min, T), and at HH:05 the hour that
  * just closed), lands each released slice through `Sinks.upsertSlices`,
  * and marks the slices done on the board. The board starts at 00:00 of
  * `Day` and is taken over at 00:25; ticks then run up to the tick at 01:05
  * that closes the hour. The first three ticks are the warm-up; the rest
  * are measured.
  *
  * The etl functions only build lazy plans, which execute inside
  * `Sinks.upsertSlices`, so a tick's etl work is part of `io.upsert_s`.
  * Traced runs therefore also execute each measured slice's etl plan alone
  * (a noop write, after the tick's clock stops) for the etl-layer figures.
  */
object Live {
  val Day = java.time.LocalDateTime.of(2024, 1, 2, 0, 0)
  private val WarmupTicks = 3
  private val Reports = Ledger.reports(Seq(("5min", "5min", 100), ("1h", "1H", 200)))

  def run(r: Run): Unit = {
    val spark = r.spark
    val tr = r.trace
    val tables = s"${r.work}/tables"
    val board = s"$tables/task_board"
    def tier(c: String, f: String) = s"$tables/${c}_$f"
    val valueLog = r.read("player_value_log")
    val profitLog = r.read("player_profit_log")
    val gameSites = r.read("game_sites")

    def fiveMin(c: String, s: TaskSlice): DataFrame =
      if (c == "trans_summary") TransSummary.fiveMin(valueLog, s)
      else PlayerSummary.fiveMin(profitLog, gameSites, s)
    def oneHour(c: String, s: TaskSlice): DataFrame =
      if (c == "trans_summary") TransSummary.oneHour(spark.read.parquet(tier(c, "5min")), s)
      else PlayerSummary.oneHour(spark.read.parquet(tier(c, "5min")), s)
    def keys(c: String) = if (c == "trans_summary") TransSummary.keys else PlayerSummary.keys

    val produceS, drainS, markS, upsertS, fiveS, hourS = mutable.ArrayBuffer.empty[Double]
    var checked, releasedN = 0L
    var upsertedRows, rewrittenRows = 0L
    val ticks = mutable.ArrayBuffer.empty[(Boolean, Double)]

    val pendingCounts = mutable.ArrayBuffer.empty[(String, org.apache.spark.sql.Column, Int)]
    def upsert(df: DataFrame, path: String, s: TaskSlice, keyCols: Seq[String]): Unit = {
      upsertS += tr.time("io.upsert", "io") {
        Sinks.upsertSlices(df, path, Seq("summary_date"), keyCols)
      }
      if (tr.enabled) {
        val t = s.gte_time.toLocalDateTime
        val day = t.toLocalDate.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE).toInt
        val slice = col("summary_date") === day && col("hours") === t.getHour &&
          (if (keyCols.contains("mins")) col("mins") === t.getMinute else lit(true))
        pendingCounts += ((path, slice, day))
      }
    }
    /** Rows rewritten per row upserted, counted after the tick's clock stops:
      * the slice's rows in the table are the rows upserted, and the whole
      * touched day partition is what the upsert rewrote. */
    def countUpserts(): Unit = {
      pendingCounts.foreach { case (path, slice, day) =>
        val table = spark.read.parquet(path)
        upsertedRows += table.filter(slice).count()
        rewrittenRows += table.filter(col("summary_date") === day).count()
      }
      pendingCounts.clear()
    }
    def timeEtl(released: Seq[(String, TaskSlice)]): Unit = released.foreach { case (c, s) =>
      val (name, df, acc) =
        if (s.freq_type == "5min") ("etl.five_min", fiveMin(c, s), fiveS)
        else ("etl.hour_rollup", oneHour(c, s), hourS)
      acc += tr.time(name, "etl")(df.write.format("noop").mode("overwrite").save())
    }

    /** One tick at simulated time `now`; measured ticks record their time. */
    def tick(now: java.time.LocalDateTime, measured: Boolean): Unit = {
      val expectClose = now.getMinute == 5 && !now.minusHours(1).isBefore(Day)
      val name = if (!measured) "warmup.tick" else if (expectClose) "live.hour_close" else "live.tick"
      var closed = false
      var slices = Seq.empty[(String, TaskSlice)]
      val secs = tr.time(name, "bench") {
        produceS += tr.time("orchestrate.produce", "orchestrate") {
          Ledger.produce(spark, board, now)
        }
        val current = spark.read.parquet(board)
        var released = Seq.empty[(String, Row)]
        var gatedSchema: org.apache.spark.sql.types.StructType = null
        drainS += tr.time("orchestrate.drain", "orchestrate") {
          released = Ledger.Classes.flatMap { c =>
            val gated = Ledger.gate(current, c)
            gatedSchema = gated.schema
            val rows = gated.collect().toSeq
            checked += rows.size
            rows.filter(_.getAs[Int]("matched") == 1).map(c -> _)
          }
        }
        releasedN += released.size
        slices = released.map { case (c, row) => (c, Ledger.slice(c, row)) }
        slices.foreach { case (c, s) =>
          s.freq_type match {
            case "5min" =>
              upsert(fiveMin(c, s), tier(c, "5min"), s, keys(c) ++ Seq("summary_date", "hours", "mins"))
            case "1H" =>
              closed = true
              upsert(oneHour(c, s), tier(c, "1h"), s, keys(c) ++ Seq("summary_date", "hours"))
          }
        }
        markS += tr.time("orchestrate.mark_done", "orchestrate") {
          import scala.jdk.CollectionConverters._
          Ledger.markDone(spark, board,
            spark.createDataFrame(released.map(_._2).asJava, gatedSchema), now)
        }
      }
      countUpserts()
      if (tr.enabled && measured) timeEtl(slices)
      r.check(s"tick $now closes an hour iff it is HH:05") { closed == expectClose }
      if (measured) ticks += ((closed, secs))
    }

    val fmt = Ledger.fmt _
    // The ledger takes over at 00:25: the slices before that are marked
    // done by an earlier executor and their rows are not in this run's
    // tiers, so the hour closes over the slices processed here.
    val takeover = Day.plusMinutes(25)
    Sinks.append(Ledger.conform(TaskLedger.initTaskList(spark, Reports, fmt(Day))), board)
    Ledger.produce(spark, board, takeover)
    Ledger.markDone(spark, board, spark.read.parquet(board)
      .filter(col("freq_type") === "5min" && col("lt_time") <= lit(Ledger.ts(takeover))), takeover)
    val ticks5 = Iterator.iterate(takeover.plusMinutes(5))(_.plusMinutes(5))
      .takeWhile(!_.isAfter(Day.plusHours(1).plusMinutes(5))).toSeq
    val (warmup, window) = ticks5.splitAt(WarmupTicks)
    warmup.foreach(t => r.op(s"warm-up tick $t")(tick(t, measured = false)))
    r.setupDone()
    Seq(produceS, drainS, markS, upsertS, fiveS, hourS).foreach(_.clear())
    checked = 0L; releasedN = 0L; upsertedRows = 0L; rewrittenRows = 0L
    window.foreach(t => r.op(s"tick $t")(tick(t, measured = true)))
    val end = window.last

    // correctness, outside the measured window
    val hour = TaskSlice(freq_type = "1H", gte_time = Ledger.ts(Day), lt_time = Ledger.ts(Day.plusHours(1)))
    Ledger.Classes.foreach { c =>
      val expect5 =
        if (c == "trans_summary") TransSummary.fiveMinRange(valueLog, fmt(takeover), fmt(end))
        else PlayerSummary.fiveMinRange(profitLog, gameSites, fmt(takeover), fmt(end))
      val got5 = spark.read.parquet(tier(c, "5min"))
      r.check(s"$c 5min tier equals fiveMinRange") { Ledger.diff(got5, expect5) == 0 }
      val expect1h =
        if (c == "trans_summary") TransSummary.oneHour(expect5, hour) else PlayerSummary.oneHour(expect5, hour)
      r.check(s"$c 1h tier equals oneHour") {
        Ledger.diff(spark.read.parquet(tier(c, "1h")), expect1h) == 0
      }
    }
    r.check("every published slice is done exactly once") {
      Ledger.notDoneOnce(spark, board, Day.plusHours(1)) == 0
    }
    val doneSlices = spark.read.parquet(board).filter(col("done") === 1).count()
    r.check("ledger holds one done row per processed slice") {
      // the hour's 12 five-minute slices and the hour itself, plus the
      // slice of the last tick, which opens the next hour
      doneSlices == (12 + 1 + 1) * Ledger.Classes.size
    }

    val all = ticks.map(_._2).toSeq
    val plain = ticks.filterNot(_._1).map(_._2).toSeq
    val closes = ticks.filter(_._1).map(_._2).toSeq
    val (tailPct, tailS) = Stats.tail(plain)
    r.e2e("op_p50_s") = Stats.median(plain)
    r.e2e("work_s") = all.sum
    r.detail("tick_p50_s") = Stats.median(plain)
    r.detail("tick_tail_s") = tailS
    r.detail("tick_tail_pct") = tailPct
    r.detail("tick_samples") = plain.size
    ticks.zipWithIndex.foreach { case ((_, s), i) => r.detail(f"tick_$i%02d_s") = s }
    r.detail("hour_close_p50_s") = Stats.median(closes)
    r.detail("hour_close_samples") = closes.size
    def rowsIn(df: DataFrame, t: String) =
      df.filter(col(t) >= lit(fmt(window.head.minusMinutes(5))) && col(t) < lit(fmt(end))).count()
    r.detail("window_log_rows") = (rowsIn(valueLog, "trade_time") + rowsIn(profitLog, "round_time")).toDouble

    if (tr.enabled) {
      tr.drain()
      val (boardFiles, _) = Stats.files(board)
      val tierFiles = Ledger.Classes.flatMap(c => Seq("5min", "1h").map(f => Stats.files(tier(c, f))._1)).sum
      r.layer ++= Seq(
        "orchestrate.produce_s" -> Stats.median(produceS.toSeq),
        "orchestrate.drain_s" -> Stats.median(drainS.toSeq),
        "orchestrate.mark_done_s" -> Stats.median(markS.toSeq),
        "orchestrate.board_rows" -> spark.read.parquet(board).count().toDouble,
        "orchestrate.board_files" -> boardFiles.toDouble,
        "orchestrate.gate_release_ratio" -> releasedN.toDouble / math.max(1L, checked),
        "io.upsert_s" -> Stats.median(upsertS.toSeq),
        "io.upsert_rewrite_ratio" -> rewrittenRows.toDouble / math.max(1L, upsertedRows),
        "io.table_files" -> tierFiles.toDouble,
        "etl.five_min_s" -> Stats.median(fiveS.toSeq),
        "etl.hour_rollup_s" -> Stats.median(hourS.toSeq))
      Families.report(r, Seq("live.tick", "live.hour_close"))
      Families.io(r, Seq("live.tick", "live.hour_close"))
    }
  }
}
