package graft.io

import graft.SparkTestSession
import graft.etl.{PlayerSummary, TaskSlice, TestData, TransSummary}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end sink semantics: dynamic-partition-overwrite as the
  * delete-before-insert replacement, idempotency under re-runs, and the
  * fiveMinRange backfill path vs per-slice execution. */
class SinksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val vlog = TestData.valueLog(spark).cache()

  test("fiveMinRange (one-pass backfill) equals per-slice fiveMin execution") {
    def perSlice(run: TaskSlice => DataFrame): DataFrame = (0 until 24).map { i =>
      val g = java.time.LocalDateTime.of(2024, 1, 2, i / 12, (i % 12) * 5)
      run(TaskSlice(freq_type = "5min",
        gte_time = java.sql.Timestamp.valueOf(g),
        lt_time = java.sql.Timestamp.valueOf(g.plusMinutes(5))))
    }.reduce(_ unionByName _)
    val (gte, lt) = ("2024-01-02 00:00:00", "2024-01-02 02:00:00")
    val plog = TestData.profitLog(spark)
    val sites = TestData.gameSites(spark)
    Seq(
      "trans" -> (TransSummary.fiveMinRange(vlog, gte, lt), perSlice(TransSummary.fiveMin(vlog, _))),
      "player" -> (PlayerSummary.fiveMinRange(plog, sites, gte, lt),
        perSlice(PlayerSummary.fiveMin(plog, sites, _)))
    ).foreach { case (cascade, (range, slices)) =>
      // every column, bitwise, in both directions (multiset difference)
      val sliced = slices.select(range.columns.toSeq.map(col): _*)
      assert(range.count() > 0, s"$cascade: no rows in the window")
      assert(range.exceptAll(sliced).isEmpty && sliced.exceptAll(range).isEmpty,
        s"$cascade backfill path diverged from per-slice path")
    }
  }

  test("dynamic partition overwrite: re-running a slice is idempotent and " +
      "leaves other partitions untouched") {
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/trans_5min"
    val day1 = TransSummary.fiveMinRange(vlog, "2024-01-02 00:00:00", "2024-01-03 00:00:00")
    val day2 = TransSummary.fiveMinRange(vlog, "2024-01-03 00:00:00", "2024-01-04 00:00:00")

    Sinks.overwriteSlices(day1, base, Seq("summary_date"))
    Sinks.overwriteSlices(day2, base, Seq("summary_date"))
    val afterBoth = spark.read.parquet(base)
    val total = afterBoth.count()
    assert(afterBoth.select("summary_date").distinct().count() === 2)

    // re-run day1 (the delete-before-insert rerun): same totals, day2 intact
    Sinks.overwriteSlices(day1, base, Seq("summary_date"))
    val rerun = spark.read.parquet(base)
    assert(rerun.count() === total)
    assert(rerun.filter(col("summary_date") === 20240103).count() ===
      afterBoth.filter(col("summary_date") === 20240103).count())

    // double-write WITHOUT overwrite would duplicate; overwrite must not
    val sums = rerun.filter(col("summary_date") === 20240102)
      .agg(sum("trans_in_amount")).head.getDouble(0)
    val direct = day1.agg(sum("trans_in_amount")).head.getDouble(0)
    assert(math.abs(sums - direct) < 1e-6)
  }

  test("upsert write amplification is bounded by the TOUCHED partitions (file-level audit)") {
    // the 100 TB cost model for the read-merge-overwrite seam (S5/J6,
    // BASELINE.md "read-merge-overwrite cost model"): an upsert batch whose
    // keys span one partition must rewrite files ONLY under that partition
    // — every other partition's part-files survive byte-identical, so
    // cost = O(sum size(touched partitions)), never O(table)
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_upsert_amp").toString + "/t"
    val rows = Seq(
      (20240101, "a", 1.0), (20240101, "b", 2.0),
      (20240102, "a", 3.0), (20240102, "b", 4.0),
      (20240103, "a", 5.0), (20240103, "b", 6.0))
      .toDF("summary_date", "player", "amount")
    Sinks.overwriteSlices(rows, base, Seq("summary_date"))

    def snapshot(): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(base)
      val st = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(p => p.toString ->
            (java.nio.file.Files.size(p),
              java.nio.file.Files.getLastModifiedTime(p).toMillis))
          .toMap
      } finally st.close()
    }
    val before = snapshot()
    assert(before.nonEmpty, "seed write produced no part-files")

    // batch updates one key in 20240102 only
    val batch = Seq((20240102, "b", 40.0)).toDF("summary_date", "player", "amount")
    Sinks.upsertSlices(batch, base, Seq("summary_date"), Seq("summary_date", "player"))

    val after = snapshot()
    val untouchedBefore = before.filter(!_._1.contains("summary_date=20240102"))
    val untouchedAfter = after.filter(!_._1.contains("summary_date=20240102"))
    assert(untouchedBefore == untouchedAfter,
      s"an untouched partition's files were rewritten:\nbefore=$untouchedBefore\nafter=$untouchedAfter")
    assert(after.keys.exists(_.contains("summary_date=20240102")),
      "the touched partition lost its files")
    // and the merge kept the sibling row of the touched partition
    val p2 = spark.read.parquet(base).filter(col("summary_date") === 20240102)
    assert(p2.count() === 2)
    assert(p2.filter(col("player") === "b").head.getAs[Double]("amount") === 40.0)
    assert(p2.filter(col("player") === "a").head.getAs[Double]("amount") === 3.0)
  }

  test("upsertSlices launches at most 4 jobs, stays idempotent, and lands a " +
      "duplicated key row as given") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_upsert_jobs").toString + "/t"
    Sinks.overwriteSlices(Seq((20240101, "a", 1.0), (20240102, "a", 3.0), (20240102, "b", 4.0))
      .toDF("summary_date", "player", "amount"), base, Seq("summary_date"))
    def upsert(rows: (Int, String, Double)*): Unit = Sinks.upsertSlices(
      rows.toDF("summary_date", "player", "amount"), base,
      Seq("summary_date"), Seq("summary_date", "player"))
    def table(): Seq[(Int, String, Double)] = spark.read.parquet(base)
      .select("summary_date", "player", "amount").as[(Int, String, Double)]
      .collect().toSeq.sortBy(_.toString)

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      upsert((20240102, "b", 40.0), (20240102, "c", 7.0))
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get <= 4, s"one upsert launched ${jobs.get} jobs")
    val once = table()
    assert(once === Seq((20240101, "a", 1.0), (20240102, "a", 3.0),
      (20240102, "b", 40.0), (20240102, "c", 7.0)))

    // the merge reads the partition it overwrites, with no second pin:
    // re-running the identical batch must leave the table row-identical
    upsert((20240102, "b", 40.0), (20240102, "c", 7.0))
    assert(table() === once, "re-running an upsert changed the table")

    // the broadcast key set keeps duplicates (no distinct): a left-anti join
    // neither drops nor multiplies survivors, and the batch lands as given
    upsert((20240102, "a", 30.0), (20240102, "a", 30.0))
    assert(table() === Seq((20240101, "a", 1.0), (20240102, "a", 30.0), (20240102, "a", 30.0),
      (20240102, "b", 40.0), (20240102, "c", 7.0)))
  }

  test("readOrEmpty yields an empty frame with the requested schema for a missing table") {
    // also for a directory that exists but holds no data files yet
    val noData = java.nio.file.Files.createTempDirectory("graft_nodata").toString
    Seq("/tmp/does_not_exist_graft", noData).foreach { path =>
      val df = Sinks.readOrEmpty(spark, path, graft.etl.Schemas.taskBoard)
      assert(df.isEmpty, path)
      assert(df.schema === graft.etl.Schemas.taskBoard, path)
    }
  }

  test("bucketed tables join and aggregate with zero exchanges") {
    import spark.implicits._
    val fact = (1L to 5000L).map(i => (i % 97, i, s"v$i")).toDF("user_id", "event_id", "payload")
    val dim = (0L until 97L).map(i => (i, s"tier${i % 3}")).toDF("user_id", "tier")
    // a previous JVM's warehouse files survive while the in-memory catalog
    // forgets the tables — drop both layers or saveAsTable refuses
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("bkt_fact", "bkt_dim").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh, t))
    }
    Sinks.writeBucketed(fact, "bkt_fact", Seq("user_id"), 8, sortCols = Seq("user_id"))
    Sinks.writeBucketed(dim, "bkt_dim", Seq("user_id"), 8)
    // broadcast would bypass bucketing; force a sort-merge shaped join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_fact").join(spark.table("bkt_dim"), "user_id")
        .groupBy("user_id", "tier").count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join/agg plan still shuffles:\n$plan")
      assert(joined.count() === 97L * 3 / 3 * 1) // 97 users, one tier each
      // contrast: the same join over plain (unbucketed) data DOES exchange
      val plain = fact.join(dim, "user_id").groupBy("user_id", "tier").count()
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
