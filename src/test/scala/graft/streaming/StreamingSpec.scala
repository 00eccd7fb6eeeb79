package graft.streaming

import graft.SparkTestSession
import graft.etl.{RtpConfig, TestData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streaming 5min tier over the fixture log equals the batch aggregation") {
    // Stage the fixture-derived value log as a file-source stream input.
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val vlog = TestData.valueLog(spark)
    vlog.write.mode("overwrite").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema

    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val agg = StreamingSummary.transFiveMinStream(stream)
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_5min")
      .trigger(Trigger.Once())
      .start()
    q.awaitTermination(120000)

    val got = spark.table("stream_5min")
      .groupBy("platform", "site_code", "player_name", "country")
      .agg(sum("trans_in_amount").as("in_amt"), sum("trans_in_count").as("in_cnt"))
    val want = vlog.filter(col("trade_status") === "SUCCESS")
      .groupBy("platform", "site_code", "player_name", "country")
      .agg(
        sum(when(col("trade_type") === "IN", col("value")).otherwise(0.0)).as("w_amt"),
        count(when(col("trade_type") === "IN", 1)).as("w_cnt"))
    val bad = got.join(want, Seq("platform", "site_code", "player_name", "country"), "full_outer")
      .filter(abs(coalesce(col("in_amt"), lit(0.0)) - coalesce(col("w_amt"), lit(0.0))) > 1e-6 ||
        coalesce(col("in_cnt"), lit(0L)) =!= coalesce(col("w_cnt"), lit(0L)))
    assert(bad.isEmpty, "streaming aggregation diverged from batch")
    assert(spark.table("stream_5min").count() > 0)
  }

  test("foreachBatch sink writes partition-overwritten report slices") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val vlog = TestData.valueLog(spark)
      .filter(col("trade_time") < lit("2024-01-03 00:00:00"))
    vlog.write.mode("overwrite").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")

    val q = StreamingSummary.startTransFiveMin(stream, s"$dir/table", s"$dir/ckpt")
    q.processAllAvailable()
    q.stop()

    val table = spark.read.parquet(s"$dir/table")
    assert(table.count() > 0)
    assert(table.select("summary_date").distinct().count() === 2) // Jan 1 + Jan 2
    val direct = vlog.filter(col("trade_status") === "SUCCESS")
      .agg(sum(when(col("trade_type") === "IN", col("value")).otherwise(0.0))).head.getDouble(0)
    val streamed = table.agg(sum("trans_in_amount")).head.getDouble(0)
    assert(math.abs(direct - streamed) < 1e-6)
  }

  test("session state merges across micro-batches (split file delivery)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_merge").toString
    def at(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:${m}%02d:00")
    // one session's events split across two files: the second batch must
    // EXTEND the session opened by the first, not start a new one
    Seq((1L, at(0), 10.0), (1L, at(10), 10.0))
      .toDF("user_id", "ts", "value").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/in")
    Seq((1L, at(20), 10.0), (2L, at(25), 5.0))
      .toDF("user_id", "ts", "value").repartition(1)
      .write.mode("append").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val q = stream
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "365 days") // huge: file order must not drop rows
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("s"),
        col("session_window.end").as("e"), col("n_events"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("sess_merge").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected the files to arrive in separate micro-batches")
    val got = spark.table("sess_merge")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(got === Set(
      (1L, at(0), java.sql.Timestamp.valueOf("2024-01-01 10:50:00"), 3L),
      (2L, at(25), java.sql.Timestamp.valueOf("2024-01-01 10:55:00"), 1L)))
  }

  test("dropDuplicatesWithinWatermark removes replayed rows by business key") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dedup").toString
    val base = TestData.valueLog(spark)
      .filter(col("trade_time") < lit("2024-01-02 00:00:00"))
      .withColumn("trade_id",
        xxhash64(col("player_name"), col("trade_time"), col("trade_type"), col("value")))
      .dropDuplicates("trade_id")
    val n = base.count()
    // replay: every row delivered twice (at-least-once upstream)
    base.unionAll(base).write.mode("overwrite").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")

    val q = StreamingSummary.dedupStream(stream, Seq("trade_id"), "trade_time")
      .writeStream.outputMode("append").format("memory").queryName("stream_dedup")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(spark.table("stream_dedup").count() === n,
      "stream dedup must collapse the replay back to the original row count")
  }

  test("stream-stream interval join equals the batch interval join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_join").toString
    // keep it small: one day of wallet moves and game rounds
    val trans = TestData.valueLog(spark).filter(col("trade_time") < lit("2024-01-02 00:00:00"))
    val rounds = TestData.profitLog(spark).filter(col("round_time") < lit("2024-01-02 00:00:00"))
    trans.write.mode("overwrite").parquet(s"$dir/t")
    rounds.write.mode("overwrite").parquet(s"$dir/r")
    val tStream = spark.readStream.schema(trans.schema).parquet(s"$dir/t")
    val rStream = spark.readStream.schema(rounds.schema).parquet(s"$dir/r")

    val q = StreamingSummary.transNearRoundsStream(tStream, rStream)
      .writeStream.outputMode("append").format("memory").queryName("stream_join")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(180000))
    val got = spark.table("stream_join").count()

    val want = StreamingSummary.transNearRoundsStream(
      spark.read.parquet(s"$dir/t"), spark.read.parquet(s"$dir/r")).count()
    assert(got === want, s"stream-stream join produced $got rows, batch $want")
    assert(got > 0)
  }

  test("alert throttle state function: cooldown, cap, reset (pure, no stream)") {
    import StreamingSummary._
    // Drive through the Dataset API in batch mode (same code path/planner as
    // the streaming query uses for flatMapGroupsWithState).
    val minute = 60000L
    val base = 1700000000000L // away from the epoch-zero initial state
    val inputs = Seq(
      AlertInput("k1", base + 0 * minute, isRisky = true),      // fires (count 1)
      AlertInput("k1", base + (0 * minute) + 30000, isRisky = true), // 30s later: cooldown
      AlertInput("k1", base + 2 * minute, isRisky = true),      // fires (count 2)
      AlertInput("k1", base + 4 * minute, isRisky = true),      // fires (3)
      AlertInput("k1", base + 6 * minute, isRisky = true),      // fires (4)
      AlertInput("k1", base + 8 * minute, isRisky = true),      // fires (5 = cap)
      AlertInput("k1", base + 10 * minute, isRisky = true),     // capped: no alert
      AlertInput("k1", base + 12 * minute, isRisky = false),    // reset
      AlertInput("k1", base + 14 * minute, isRisky = true))     // fires again (count 1)
      .toDS()
    val out = StreamingSummary.throttleAlerts(inputs,
      RtpConfig.timeToAlertMinutes, RtpConfig.alertLimit).collect().sortBy(_.eventTimeMillis)
    assert(out.map(_.sendAlert).toSeq ===
      Seq(true, false, true, true, true, true, false, false, true))
    assert(out.last.alertCount === 1)
  }

  test("attribution state function: strict order, equal-ts exclusion, cross-batch carry") {
    import StreamingSummary._
    // batch 1: view@10, purchase@20 (-> view 1), purchase@10 equal-ts (strict: NOT the @10 view? no —
    // the purchase at ts 10 sorts BEFORE the view at ts 10, so it sees no view)
    class FakeState(var v: Option[LastView]) extends org.apache.spark.sql.streaming.GroupState[LastView] {
      override def exists: Boolean = v.isDefined
      override def get: LastView = v.get
      override def getOption: Option[LastView] = v
      override def update(s: LastView): Unit = v = Some(s)
      override def remove(): Unit = v = None
      override def hasTimedOut: Boolean = false
      override def setTimeoutDuration(d: Long): Unit = ()
      override def setTimeoutDuration(d: String): Unit = ()
      override def setTimeoutTimestamp(t: Long): Unit = ()
      override def setTimeoutTimestamp(t: Long, add: String): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date, add: String): Unit = ()
      override def getCurrentWatermarkMs(): Long = 0L
      override def getCurrentProcessingTimeMs(): Long = 0L
    }
    val st = new FakeState(None)
    val b1 = Seq(
      AttrEvent(7L, 100L, 10L, isPurchase = false, 1.5), // view@10
      AttrEvent(7L, 101L, 20L, isPurchase = true, 9.0),  // purchase@20 -> view 100
      AttrEvent(7L, 102L, 10L, isPurchase = true, 8.0))  // purchase@10 (equal ts) -> none (strict)
    val out1 = attributionFn(7L, b1.iterator, st).toSeq
    assert(out1.find(_.purchase_id == 101L).get.view_id === Some(100L))
    assert(out1.find(_.purchase_id == 102L).get.view_id === None)
    assert(st.v === Some(LastView(100L, 10L, 1.5)))
    // batch 2: state carries; a purchase with no new view attributes to the
    // batch-1 view, a newer view then takes over; a stale (older-ts) view
    // must NOT regress the state
    val b2 = Seq(
      AttrEvent(7L, 200L, 30L, isPurchase = true, 1.0),  // -> view 100 (carried)
      AttrEvent(7L, 201L, 40L, isPurchase = false, 2.5), // view@40
      AttrEvent(7L, 202L, 50L, isPurchase = true, 1.0))  // -> view 201
    val out2 = attributionFn(7L, b2.iterator, st).toSeq
    assert(out2.find(_.purchase_id == 200L).get.view_id === Some(100L))
    assert(out2.find(_.purchase_id == 202L).get.view_id === Some(201L))
    val stale = Seq(AttrEvent(7L, 300L, 5L, isPurchase = false, 0.1))
    attributionFn(7L, stale.iterator, st).toSeq
    assert(st.v.get.viewId === 201L) // regression guard held
  }

  test("nextToken state function: in-batch sort, cross-batch context carry, 3-token state cap") {
    import StreamingSummary._
    class FakeSeqState(var v: Option[SeqState])
        extends org.apache.spark.sql.streaming.GroupState[SeqState] {
      override def exists: Boolean = v.isDefined
      override def get: SeqState = v.get
      override def getOption: Option[SeqState] = v
      override def update(s: SeqState): Unit = v = Some(s)
      override def remove(): Unit = v = None
      override def hasTimedOut: Boolean = false
      override def setTimeoutDuration(d: Long): Unit = ()
      override def setTimeoutDuration(d: String): Unit = ()
      override def setTimeoutTimestamp(t: Long): Unit = ()
      override def setTimeoutTimestamp(t: Long, add: String): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date, add: String): Unit = ()
      override def getCurrentWatermarkMs(): Long = 0L
      override def getCurrentProcessingTimeMs(): Long = 0L
    }
    val st = new FakeSeqState(None)
    // batch 1 arrives OUT of ts order: the fn must replay (ts, event_id) order
    val b1 = Seq(
      SeqEvent(7L, 4L, 40L, "d"), SeqEvent(7L, 1L, 10L, "a"),
      SeqEvent(7L, 3L, 30L, "c"), SeqEvent(7L, 2L, 20L, "b"))
    val out1 = nextTokenFn(7L, b1.iterator, st).toSeq
    assert(out1 == Seq(SeqPair(7L, 4L, "a", "b", "c", "d")), s"got $out1")
    assert(st.v.get.tokens == Seq("b", "c", "d"), "state holds exactly the last 3 tokens")
    // batch 2: context carries across the batch boundary
    val out2 = nextTokenFn(7L, Seq(SeqEvent(7L, 5L, 50L, "e")).iterator, st).toSeq
    assert(out2 == Seq(SeqPair(7L, 5L, "b", "c", "d", "e")), s"got $out2")
    assert(st.v.get.tokens == Seq("c", "d", "e"))
  }

  test("funnel state function: anchor-once, ordered advance, horizon cutoff, cross-batch carry") {
    import StreamingSummary._
    class FakeFState(var v: Option[FunnelState])
        extends org.apache.spark.sql.streaming.GroupState[FunnelState] {
      override def exists: Boolean = v.isDefined
      override def get: FunnelState = v.get
      override def getOption: Option[FunnelState] = v
      override def update(s: FunnelState): Unit = v = Some(s)
      override def remove(): Unit = v = None
      override def hasTimedOut: Boolean = false
      override def setTimeoutDuration(d: Long): Unit = ()
      override def setTimeoutDuration(d: String): Unit = ()
      override def setTimeoutTimestamp(t: Long): Unit = ()
      override def setTimeoutTimestamp(t: Long, add: String): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date, add: String): Unit = ()
      override def getCurrentWatermarkMs(): Long = 0L
      override def getCurrentProcessingTimeMs(): Long = 0L
    }
    val fn = funnelFn(horizonMicros = 100L) _
    val st = new FakeFState(None)
    // batch 1: click before any view is dropped; first view anchors; a
    // same-ts purchase cannot advance (strict >)
    val b1 = Seq(FunnelEvent(5L, 5L, 2), FunnelEvent(5L, 10L, 1), FunnelEvent(5L, 10L, 3))
    assert(fn(5L, b1.iterator, st).toSeq == Seq(FunnelAdvance(5L, 1)))
    // batch 2: purchase arriving before any click is dropped (ordered steps);
    // then click advances; a click past the deadline would not (t1=10 -> deadline 110)
    val b2 = Seq(FunnelEvent(5L, 20L, 3), FunnelEvent(5L, 30L, 2))
    assert(fn(5L, b2.iterator, st).toSeq == Seq(FunnelAdvance(5L, 2)))
    // batch 3: purchase inside the horizon completes; a second view never re-anchors
    val b3 = Seq(FunnelEvent(5L, 50L, 1), FunnelEvent(5L, 60L, 3))
    assert(fn(5L, b3.iterator, st).toSeq == Seq(FunnelAdvance(5L, 3)))
    assert(st.v.get.reached == 3 && st.v.get.deadlineMicros == 110L)
    // horizon: a user whose purchase lands past the deadline stops at click
    val st2 = new FakeFState(None)
    val b4 = Seq(FunnelEvent(6L, 0L, 1), FunnelEvent(6L, 10L, 2), FunnelEvent(6L, 150L, 3))
    assert(fn(6L, b4.iterator, st2).toSeq ==
      Seq(FunnelAdvance(6L, 1), FunnelAdvance(6L, 2)))
  }

  test("KMV sketch in a streaming aggregation merges state across micro-batches bit-stably") {
    import graft.functions.{AggFunctions, HashFunctions}
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_kmv").toString
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("user_id"))
    // 4 input files + maxFilesPerTrigger=1 forces 4 micro-batches: the
    // sketch buffer must serialize into the state store and merge across
    // batch boundaries, not just across shuffle partials
    events.repartition(4).write.mode("overwrite").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    def h = shiftrightunsigned(HashFunctions.md5_lo64(col("user_id").cast("string")), 1)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val q = stream.withColumn("h", h)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(AggFunctions.kmv_distinct(col("h"), 8).as("approx_users"))
      .writeStream.outputMode("complete").format("memory").queryName("stream_kmv")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(q.recentProgress.length >= 4, "expected one micro-batch per staged file")
    val got = spark.table("stream_kmv")
      .select(col("window.start").as("d"), col("event_type"), col("approx_users"))
    val want = events.withColumn("h", h)
      .groupBy(window(col("ts"), "1 day").getField("start").as("d"), col("event_type"))
      .agg(AggFunctions.kmv_distinct(col("h"), 8).as("batch_users"))
    val bad = got.join(want, Seq("d", "event_type"), "full_outer")
      .filter(col("approx_users").isNull || col("batch_users").isNull ||
        col("approx_users") =!= col("batch_users"))
    assert(bad.isEmpty, "streamed sketch diverged from the batch sketch")
  }

  test("drain keeps the trailing no-data batch only for an append-mode aggregation") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val drain = graft.queries.StreamingQueries.drain _
    val root = java.nio.file.Files.createTempDirectory("graft_drain").toString
    def at(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    def stage(name: String, df: org.apache.spark.sql.DataFrame): String = {
      df.repartition(1).write.parquet(s"$root/$name"); s"$root/$name"
    }
    def stream(dir: String) =
      spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    // input-row counts of every micro-batch, per drain tag
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        batches.add((e.progress.name, e.progress.numInputRows))
    }
    def zeroInputBatches(tag: String): Int = {
      org.apache.spark.TestBus.drain(spark.sparkContext)
      batches.toArray.count {
        case (n: String, rows: Long) => n.startsWith(s"graft_${tag}_") && rows == 0L
      }
    }
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val noDataBefore = spark.conf.getOption(noDataKey)
    spark.streams.addListener(listener)
    try {
      // 24 events one minute apart: the watermark (max - 5 min = 10:18)
      // closes three 5-minute windows, but only in the trailing batch
      val ev = stage("ev", (0 until 24).map(m => (m.toLong % 3, at(m))).toDF("k", "ts"))
      val windows = drain(spark, "t_win", "append", Seq(ev))(stream(ev)
        .withWatermark("ts", "5 minutes")
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("n")))
        .select(col("window.start").as("w"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
      assert(windows === Set((at(0), 5L), (at(5), 5L), (at(10), 5L)))
      assert(zeroInputBatches("t_win") === 1)

      // complete mode behind a watermarked dedup, whose eviction would
      // otherwise ask for one more batch (the s3 shape)
      val twice = stage("twice", (0 until 20).map(m => (m.toLong, m.toLong % 4, at(m)))
        .flatMap(r => Seq(r, r)).toDF("id", "k", "ts"))
      val counts = drain(spark, "t_cmp", "complete", Seq(twice))(stream(twice)
        .withWatermark("ts", "5 minutes")
        .dropDuplicatesWithinWatermark("id")
        .groupBy("k").agg(count(lit(1)).as("n")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(counts === Set((0L, 5L), (1L, 5L), (2L, 5L), (3L, 5L)))
      assert(zeroInputBatches("t_cmp") === 0)

      // inner stream-stream interval join, both sides watermarked
      val left = stage("l", (0 until 12).map(m => (m.toLong % 4, at(m * 2))).toDF("lk", "lt"))
      val right = stage("r", (0 until 12).map(m => (m.toLong % 4, at(m * 2 + 1))).toDF("rk", "rt"))
      def joined(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
        l.withWatermark("lt", "5 minutes").join(r.withWatermark("rt", "5 minutes"),
          col("lk") === col("rk") && col("rt").between(
            col("lt") - expr("INTERVAL 10 MINUTES"), col("lt") + expr("INTERVAL 10 MINUTES")))
      val got = drain(spark, "t_join", "append", Seq(left, right))(
        joined(stream(left), stream(right))).count()
      assert(got > 0)
      assert(got === joined(spark.read.parquet(left), spark.read.parquet(right)).count())
      assert(zeroInputBatches("t_join") === 0)
    } finally spark.streams.removeListener(listener)
    assert(spark.conf.getOption(noDataKey) === noDataBefore, "drain must restore the session conf")
  }
}
