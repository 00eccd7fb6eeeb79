package graft.io

import graft.SparkTestSession
import graft.etl.{TaskSlice, TestData, TransSummary}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end sink semantics: dynamic-partition-overwrite as the
  * delete-before-insert replacement, idempotency under re-runs, and the
  * fiveMinRange backfill path vs per-slice execution. */
class SinksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val vlog = TestData.valueLog(spark).cache()

  test("fiveMinRange (one-pass backfill) equals per-slice fiveMin execution") {
    val range = TransSummary.fiveMinRange(vlog, "2024-01-02 00:00:00", "2024-01-02 02:00:00")
    val slices = (0 until 24).map { i =>
      val g = java.time.LocalDateTime.of(2024, 1, 2, i / 12, (i % 12) * 5)
      TransSummary.fiveMin(vlog, TaskSlice(freq_type = "5min",
        gte_time = java.sql.Timestamp.valueOf(g),
        lt_time = java.sql.Timestamp.valueOf(g.plusMinutes(5))))
    }.reduce(_ unionByName _)
    val keys = Seq("platform", "site_code", "player_name", "country", "summary_date", "hours", "mins")
    val joined = range.alias("r").join(slices.alias("s"), keys, "full_outer")
      .filter(
        abs(coalesce(col("r.trans_in_amount"), lit(0.0)) - coalesce(col("s.trans_in_amount"), lit(0.0))) > 1e-9 ||
        coalesce(col("r.trans_in_count"), lit(-1L)) =!= coalesce(col("s.trans_in_count"), lit(-1L)))
    assert(joined.isEmpty, "backfill path diverged from per-slice path")
    assert(range.count() === slices.count())
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
    val df = Sinks.readOrEmpty(spark, "/tmp/does_not_exist_graft", graft.etl.Schemas.taskBoard)
    assert(df.isEmpty)
    assert(df.schema === graft.etl.Schemas.taskBoard)
  }

  test("compactSlices collapses a partition's small files, preserves rows, leaves other partitions alone") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    // simulate many micro-batch commits into day 1 + one commit into day 2
    (1 to 6).foreach { i =>
      Sinks.append(Seq((20240101, i.toLong, s"u$i")).toDF("summary_date", "v", "who"),
        base, Seq("summary_date"))
    }
    Sinks.append(Seq((20240102, 99L, "z")).toDF("summary_date", "v", "who"),
      base, Seq("summary_date"))
    def files(day: Int) = new java.io.File(s"$base/summary_date=$day")
      .listFiles.count(_.getName.endsWith(".parquet"))
    val day2FilesBefore = files(20240102)
    assert(files(20240101) >= 6)

    val before = spark.read.parquet(base).as[(Long, String, Int)].collect().toSet
    Sinks.compactSlices(spark, base, "summary_date", Seq(20240101), filesPerPartition = 1)

    assert(files(20240101) === 1, "day-1 files not compacted to one")
    assert(files(20240102) === day2FilesBefore, "untouched partition was rewritten")
    val after = spark.read.parquet(base).as[(Long, String, Int)].collect().toSet
    assert(after === before, "compaction changed the row set")
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

  test("clusteredWrite: a point filter on the cluster key skips row groups " +
      "the shuffled layout has to read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cluster").toString
    // ids shuffled so the natural write has every id range in every file
    val rnd = new scala.util.Random(3)
    val rows = rnd.shuffle((1L to 40000L).toVector)
      .map(i => (i, s"payload_$i")).toDF("user_id", "payload")

    Sinks.clusteredWrite(rows, s"$dir/clustered", Seq("user_id"), numFiles = 8)
    rows.repartition(8).write.parquet(s"$dir/scattered")

    // rows the SCAN produced (post row-group pruning), not rows returned
    def scanRows(path: String): Long = {
      val df = spark.read.parquet(path).filter($"user_id" === 12345L)
      assert(df.count() === 1)
      val scans = df.queryExecution.executedPlan.collectLeaves()
      scans.flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    }
    val clustered = scanRows(s"$dir/clustered")
    val scattered = scanRows(s"$dir/scattered")
    assert(clustered * 4 <= scattered,
      s"clustered layout must skip most row groups: read $clustered vs $scattered rows")
  }
}
