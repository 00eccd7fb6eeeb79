package graft.queries

import graft.Tables
import graft.ops.Cols._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.10 — the reference's operator patterns bound to the driver
  * fixtures, each with a DuckDB oracle (verified by the driver at sf0.01).
  *
  * Every query is a pure function (SparkSession, sfDir) => DataFrame whose
  * column NAMES and TYPES match the oracle SQL exactly (the driver sorts
  * columns by name and hash-compares values).
  *
  * Scale notes (100 TB posture) are attached per query — the fixture tables
  * are small, but each plan is written the way it should run on a large
  * cluster: filters first (parquet pushdown), partial aggregation before
  * shuffles, broadcast for dims, no driver-side loops.
  */
object FixtureQueries {

  // Canonical event-time window used by most queries: January 2024.
  private val W0 = "2024-01-01 00:00:00"
  private val W1 = "2024-01-31 00:00:00"

  private def eventsInWindow(spark: SparkSession, dir: String, gte: String = W0, lt: String = W1): DataFrame =
    Tables.eventsInWindow(spark, dir, gte, lt)

  // ---------------------------------------------------------------------------
  // Q1 — A1+P2+P4: conditional sums (trans_summary_5min pattern,
  // reference task-executor/trans_summary/trans_summary_5min.py:67-93).
  // purchase≈'IN', view≈'OUT' per FIXTURES.md §C.
  // Scale: single hash aggregation; partial agg map-side, one shuffle on
  // user_id. Filter + 4-column projection reach the parquet scan.
  // ---------------------------------------------------------------------------
  def q1TransSummary(spark: SparkSession, dir: String): DataFrame =
    eventsInWindow(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sumIf(col("event_type") === "purchase", money(col("value"))).cast("double").as("in_amount"),
        sumIf(col("event_type") === "view", money(col("value"))).cast("double").as("out_amount"),
        countIf(col("event_type") === "purchase").as("in_count"),
        countIf(col("event_type") === "view").as("out_count"))

  private val q1Sql =
    s"""SELECT user_id,
       |  CAST(sum(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS in_amount,
       |  CAST(sum(CASE WHEN event_type='view' THEN CAST(value AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS out_amount,
       |  count(*) FILTER (WHERE event_type='purchase') AS in_count,
       |  count(*) FILTER (WHERE event_type='view') AS out_count
       |FROM events
       |WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
       |GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------------------
  // Q2 — A2+F8: wide sum battery + guarded ratio (player_summary_5min.py:77-89,
  // rtp = SUM(profit)/SUM(bet) with inf/nan -> 0 at line 106).
  // ---------------------------------------------------------------------------
  def q2PlayerSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(money(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(money(col("l_extendedprice"))).cast("double").as("sum_price"),
        // disc is ≤2dp so 1-disc is an exact DECIMAL and the product an exact
        // scale-4 DECIMAL: the sum is order-independent.
        sum(money(col("l_extendedprice")) *
          (lit(1) - col("l_discount").cast(org.apache.spark.sql.types.DecimalType(4, 2))))
          .cast("double").as("sum_disc_price"),
        sum(col("l_discount").cast(org.apache.spark.sql.types.DecimalType(4, 2))).as("sum_disc"),
        sum(money(col("l_quantity"))).as("sum_qty_d"))
      .withColumn("disc_per_qty", safeDiv(col("sum_disc"), col("sum_qty_d")))
      .drop("sum_disc", "sum_qty_d")

  private val q2Sql =
    """SELECT l_returnflag, l_linestatus,
      |  count(*) AS cnt,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CASE WHEN sum(CAST(l_quantity AS DECIMAL(12,2))) = 0 THEN 0
      |       ELSE CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
      |            / CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) END AS disc_per_qty
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------------
  // Q3 — A3: clamped sum (player_summary_5min.py:85-86 free/jp >= 0 rule).
  // ---------------------------------------------------------------------------
  def q3Clamped(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        sumIf(col("o_totalprice") >= 100000, money(col("o_totalprice"))).cast("double").as("clamped_total"),
        countIf(col("o_totalprice") >= 100000).as("big_count"),
        count(lit(1)).as("cnt"))

  private val q3Sql =
    """SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN o_totalprice >= 100000 THEN CAST(o_totalprice AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS clamped_total,
      |  count(*) FILTER (WHERE o_totalprice >= 100000) AS big_count,
      |  count(*) AS cnt
      |FROM orders
      |GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------------
  // Q4 — A4: two-tier rollup day -> month; must equal the direct month agg
  // (the incremental-view-maintenance invariant behind trans_summary_1h/1d/1m,
  // trans_summary_1m.py:68-93). The oracle IS the direct month aggregation, so
  // a hash match proves the rollup identity.
  // Scale: the day tier is the materialized 1d table; re-agg from it touches
  // ~1/30th the rows of the raw scan. Both aggs shuffle on the same leading
  // key (user_id) so AQE can co-locate them.
  // ---------------------------------------------------------------------------
  def q4RollupMonth(spark: SparkSession, dir: String): DataFrame = {
    // day tier keeps the EXACT decimal sums; only the final month tier casts
    // to double — so the rollup identity vs the direct month agg is exact.
    val day = eventsInWindow(spark, dir)
      .groupBy(col("user_id"), yyyymmdd(col("ts")).as("summary_date"))
      .agg(
        sumIf(col("event_type") === "purchase", money(col("value"))).as("in_amount"),
        sumIf(col("event_type") === "view", money(col("value"))).as("out_amount"),
        countIf(col("event_type") === "purchase").as("in_count"),
        countIf(col("event_type") === "view").as("out_count"))
    day
      .groupBy(col("user_id"), monthOfDateInt(col("summary_date")).as("summary_month"))
      .agg(
        sum(col("in_amount")).cast("double").as("in_amount"),
        sum(col("out_amount")).cast("double").as("out_amount"),
        sum(col("in_count")).as("in_count"),
        sum(col("out_count")).as("out_count"))
  }

  private val q4Sql =
    s"""SELECT user_id,
       |  CAST(strftime(ts, '%Y%m') AS INTEGER) AS summary_month,
       |  CAST(sum(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS in_amount,
       |  CAST(sum(CASE WHEN event_type='view' THEN CAST(value AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS out_amount,
       |  count(*) FILTER (WHERE event_type='purchase') AS in_count,
       |  count(*) FILTER (WHERE event_type='view') AS out_count
       |FROM events
       |WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
       |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------------
  // Q5 — J1+F9: broadcast dim enrichment with miss -> 0
  // (player_summary_5min.py:116-123 game_sites ratio join + profit split).
  // Scale: part is the small dim -> explicit broadcast() hint; no shuffle of
  // the fact side for the join, then one shuffle for the final agg.
  // ---------------------------------------------------------------------------
  def q5DimEnrich(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
    // All-decimal per-row arithmetic: ep(12,2) × (1 − rp(8,2)·1e-5)(·,7) is an
    // EXACT scale-9 decimal; the per-row round to 3dp (half-away-from-zero in
    // both engines, values strictly positive) bounds the group sum's unscaled
    // magnitude so the final decimal→double cast is exact-range in DuckDB too.
    val ep = money(col("l_extendedprice"))
    val rp = coalesce(col("p_retailprice"), lit(0)).cast(org.apache.spark.sql.types.DecimalType(8, 2))
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "left")
      .withColumn("net", round(ep * (lit(1) - rp * lit(new java.math.BigDecimal("0.00001"))), 3))
      .groupBy(coalesce(col("p_brand"), lit("NONE")).as("brand"))
      .agg(sum(col("net")).cast("double").as("net_amount"), count(lit(1)).as("cnt"))
  }

  private val q5Sql =
    """SELECT coalesce(p.p_brand, 'NONE') AS brand,
      |  CAST(sum(round(CAST(l.l_extendedprice AS DECIMAL(12,2))
      |    * (1 - coalesce(CAST(p.p_retailprice AS DECIMAL(8,2)), 0) * 0.00001), 3)) AS DOUBLE) AS net_amount,
      |  count(*) AS cnt
      |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // Q6 — A5+W2: trailing "7-day" WMA/sigma over the 8-day window [d-8, d)
  // (risk_ctrl_player_1d.py:97-130: the reference sums 8 days and divides by
  // 7, and MariaDB STDDEV is population — both reproduced deliberately).
  // Two chained aggs; the second groups by a prefix of the first's keys so
  // the day tier's shuffle partitioning is reusable.
  // ---------------------------------------------------------------------------
  def q6Wma(spark: SparkSession, dir: String): DataFrame = {
    // Population stddev via the sum-of-squares identity over EXACT decimal
    // day sums: sum(ds) and sum(ds²) are order-independent decimals, and the
    // final double expression is the identical correctly-rounded IEEE program
    // on both sides (a moments-based stddev_pop would accumulate in float,
    // whose merge order is partitioning-dependent). greatest(…, 0) guards the
    // tiny negative residue the identity can produce for constant groups.
    val ds14 = org.apache.spark.sql.types.DecimalType(14, 2)
    val daySums = eventsInWindow(spark, dir, "2024-01-07 00:00:00", "2024-01-15 00:00:00")
      .groupBy(col("user_id"), yyyymmdd(col("ts")).as("summary_date"))
      .agg(sum(money(col("value"))).cast(ds14).as("day_sum"))
    val s = col("s").cast("double")
    val n = col("n").cast("double")
    daySums
      .groupBy(col("user_id"))
      .agg(
        sum(col("day_sum")).as("s"),
        sum(col("day_sum") * col("day_sum")).as("ss"),
        count(lit(1)).as("n"))
      .select(
        col("user_id"),
        (s / 7.0).as("wma"),
        sqrt(greatest(col("ss").cast("double") / n - (s / n) * (s / n), lit(0.0))).as("wmasd"))
  }

  private val q6Sql =
    """WITH day_sums AS (
      |  SELECT user_id, CAST(strftime(ts, '%Y%m%d') AS INTEGER) AS summary_date,
      |         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DECIMAL(14,2)) AS day_sum
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-07 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
      |  GROUP BY 1, 2)
      |SELECT user_id,
      |  CAST(sum(day_sum) AS DOUBLE)/7.0 AS wma,
      |  sqrt(greatest(
      |    CAST(sum(day_sum*day_sum) AS DOUBLE)/CAST(count(*) AS DOUBLE)
      |      - (CAST(sum(day_sum) AS DOUBLE)/CAST(count(*) AS DOUBLE))
      |        * (CAST(sum(day_sum) AS DOUBLE)/CAST(count(*) AS DOUBLE)),
      |    0)) AS wmasd
      |FROM day_sums GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------------------
  // Q7 — A7+F1: risky snapshot with ordered mask overrides
  // (risk_ctrl_rtp_1d.py:77-118: flags computed, then unconditionally
  // overridden for low-volume keys — mask ORDER is semantic, the later
  // b_count mask wins; encoded as the first branch of the CASE).
  // ---------------------------------------------------------------------------
  def q7Risky(spark: SparkSession, dir: String): DataFrame =
    riskSnapshot(spark, dir, W0, W1)

  private def riskSnapshot(spark: SparkSession, dir: String, gte: String, lt: String): DataFrame =
    eventsInWindow(spark, dir, gte, lt)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("b_count"), sum(money(col("value"))).as("b_amount_d"))
      .withColumn("avg_amount", safeDiv(col("b_amount_d"), col("b_count")))
      .withColumn("b_amount", col("b_amount_d").cast("double")).drop("b_amount_d")
      .withColumn("is_risky",
        when(col("b_count") < 10, lit(0))
          .when(col("avg_amount") > 48.0, lit(1))
          .otherwise(lit(0)))
      .select("user_id", "b_count", "b_amount", "avg_amount", "is_risky")

  private def riskSnapshotSql(gte: String, lt: String): String =
    s"""SELECT user_id, b_count, b_amount, avg_amount,
       |  CASE WHEN b_count < 10 THEN 0
       |       WHEN avg_amount > 48.0 THEN 1
       |       ELSE 0 END AS is_risky
       |FROM (
       |  SELECT user_id, count(*) AS b_count,
       |         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS b_amount,
       |         CASE WHEN count(*) = 0 THEN 0
       |              ELSE CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
       |                   / CAST(count(*) AS DOUBLE) END AS avg_amount
       |  FROM events
       |  WHERE ts >= TIMESTAMP '$gte' AND ts < TIMESTAMP '$lt'
       |    AND event_type = 'purchase'
       |  GROUP BY user_id)""".stripMargin

  private val q7Sql = riskSnapshotSql(W0, W1)

  // ---------------------------------------------------------------------------
  // Q8 — J6+J7: CDC-style ledger merge (risk_ctrl_rtp_1d.py:140-166):
  // old ledger left-joined with the new report, metric columns overwritten
  // from the new side when present, plus anti-join append of brand-new keys.
  // Together this is exactly "full outer preferring new", which is what the
  // oracle states; the Spark side keeps the reference's two-step shape.
  // Scale: both sides pre-aggregated and keyed on user_id; sort-merge join
  // on the same key serves both the left join and the anti join.
  // ---------------------------------------------------------------------------
  def q8LedgerMerge(spark: SparkSession, dir: String): DataFrame = {
    val old = riskSnapshot(spark, dir, "2024-01-01 00:00:00", "2024-01-15 00:00:00")
    val neu = riskSnapshot(spark, dir, "2024-01-15 00:00:00", "2024-01-31 00:00:00")
    val metrics = Seq("b_count", "b_amount", "avg_amount", "is_risky")
    val neuR = metrics.foldLeft(neu)((d, c) => d.withColumnRenamed(c, c + "_new"))
    // J6: keys already in the ledger — overwrite metrics from the new side.
    val updated = old.join(neuR, Seq("user_id"), "left")
      .select(col("user_id") +: metrics.map(c => coalesce(col(c + "_new"), col(c)).as(c)): _*)
    // J7: brand-new keys (reference does concat+drop_duplicates(keep=False)).
    val appended = neu.join(old, Seq("user_id"), "left_anti")
      .select(col("user_id") +: metrics.map(col): _*)
    updated.unionByName(appended)
  }

  private val q8Sql =
    s"""WITH old AS (${riskSnapshotSql("2024-01-01 00:00:00", "2024-01-15 00:00:00")}),
       |new AS (${riskSnapshotSql("2024-01-15 00:00:00", "2024-01-31 00:00:00")})
       |SELECT coalesce(new.user_id, old.user_id) AS user_id,
       |  coalesce(new.b_count, old.b_count) AS b_count,
       |  coalesce(new.b_amount, old.b_amount) AS b_amount,
       |  coalesce(new.avg_amount, old.avg_amount) AS avg_amount,
       |  coalesce(new.is_risky, old.is_risky) AS is_risky
       |FROM old FULL OUTER JOIN new ON old.user_id = new.user_id""".stripMargin

  // ---------------------------------------------------------------------------
  // Q9 — W1+O2: leaderboard ranking, rank(method='first') semantics
  // (player_ranking_1d_vnd_ou_leaderboard.py:153,213-214) = row_number with a
  // deterministic tiebreak. Partitioned by event_type (the reference ranks
  // within a board) so no global single-partition sort at scale.
  // ---------------------------------------------------------------------------
  def q9Ranking(spark: SparkSession, dir: String): DataFrame = {
    // ranking over the DOUBLE view of the exact sum on both sides, so rank
    // order can never diverge from the emitted value
    val totals = eventsInWindow(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(money(col("value"))).cast("double").as("total_value"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("total_value").desc, col("user_id").asc)
    totals.withColumn("rank_no", row_number().over(w))
  }

  private val q9Sql =
    s"""SELECT event_type, user_id,
       |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       |  CAST(row_number() OVER (PARTITION BY event_type
       |       ORDER BY CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) DESC, user_id ASC) AS INTEGER) AS rank_no
       |FROM events
       |WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
       |GROUP BY event_type, user_id""".stripMargin

  // ---------------------------------------------------------------------------
  // Q10 — J5+A10: new-register day report (new_register_summary_1d.py:87-131):
  // users whose FIRST-ever event lands on the report day, semi-joined to that
  // day's per-user activity, then one groupBy producing sums + reg_count (the
  // reference's separate sum()+count() pandas groupbys collapsed into one agg).
  // ---------------------------------------------------------------------------
  private val regDay = "2024-01-02"

  def q10NewRegister(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val newUsers = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .filter(to_date(col("first_ts")) === lit(regDay))
      .select("user_id")
    val daySums = ev
      .filter(inWindow(col("ts"), s"$regDay 00:00:00", "2024-01-03 00:00:00"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(money(col("value"))).as("day_value"))
    daySums.join(newUsers, Seq("user_id"), "left_semi")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("reg_count"), sum(col("day_value")).cast("double").as("value_sum"))
  }

  private val q10Sql =
    s"""WITH new_users AS (
       |  SELECT user_id FROM events GROUP BY user_id
       |  HAVING CAST(min(ts) AS DATE) = DATE '$regDay'),
       |day_sums AS (
       |  SELECT user_id, event_type, sum(CAST(value AS DECIMAL(12,2))) AS day_value
       |  FROM events
       |  WHERE ts >= TIMESTAMP '$regDay 00:00:00' AND ts < TIMESTAMP '2024-01-03 00:00:00'
       |  GROUP BY 1, 2)
       |SELECT event_type, count(*) AS reg_count,
       |  CAST(sum(day_value) AS DOUBLE) AS value_sum
       |FROM day_sums WHERE user_id IN (SELECT user_id FROM new_users)
       |GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------------------
  // Q11 — U1+U2: union + anti (ExecUtils.py:29 board concat; risk_ctrl_rtp_1d
  // .py:158-166 concat+drop_duplicates(keep=False) whose intent is an anti
  // join of new keys against old).
  // ---------------------------------------------------------------------------
  def q11SetOps(spark: SparkSession, dir: String): DataFrame = {
    def daySlice(day: String, next: String): DataFrame =
      eventsInWindow(spark, dir, s"$day 00:00:00", s"$next 00:00:00")
        .groupBy(col("user_id"))
        .agg(sumIf(col("event_type") === "purchase", money(col("value"))).cast("double").as("in_amount"))
    val a = daySlice("2024-01-02", "2024-01-03")
    val b = daySlice("2024-01-03", "2024-01-04")
    val oldTagged = a.select(lit("old").as("tag"), col("user_id"), col("in_amount"))
    val newOnly = b.join(a, Seq("user_id"), "left_anti")
      .select(lit("new_only").as("tag"), col("user_id"), col("in_amount"))
    oldTagged.unionByName(newOnly)
  }

  private val q11Sql =
    """WITH a AS (
      |  SELECT user_id, CAST(sum(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS in_amount
      |  FROM events WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-03 00:00:00'
      |  GROUP BY user_id),
      |b AS (
      |  SELECT user_id, CAST(sum(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS in_amount
      |  FROM events WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' AND ts < TIMESTAMP '2024-01-04 00:00:00'
      |  GROUP BY user_id)
      |SELECT 'old' AS tag, user_id, in_amount FROM a
      |UNION ALL
      |SELECT 'new_only' AS tag, b.user_id, b.in_amount FROM b
      |WHERE NOT EXISTS (SELECT 1 FROM a WHERE a.user_id = b.user_id)""".stripMargin

  // ---------------------------------------------------------------------------
  // Q12 — A11: dependency count, set-based (GetTaskDepCount.py:53-65 runs one
  // COUNT query per task row — an N+1 the Spark version replaces with a single
  // groupBy over (key, day) counting distinct finished sub-slices).
  // ---------------------------------------------------------------------------
  def q12DepCount(spark: SparkSession, dir: String): DataFrame =
    eventsInWindow(spark, dir)
      .groupBy(col("user_id"), yyyymmdd(col("ts")).as("summary_date"))
      .agg(countDistinct(hour(col("ts"))).as("active_hours"))
      .filter(col("active_hours") >= 3)

  private val q12Sql =
    s"""SELECT user_id, CAST(strftime(ts, '%Y%m%d') AS INTEGER) AS summary_date,
       |  count(DISTINCT extract(hour FROM ts)) AS active_hours
       |FROM events
       |WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
       |GROUP BY 1, 2
       |HAVING count(DISTINCT extract(hour FROM ts)) >= 3""".stripMargin

  // ---------------------------------------------------------------------------
  // Q13 — A12: latest-watermark scan (ScanTaskBoard.py:18-21). MariaDB's
  // non-strict GROUP BY picks arbitrary companion columns; the engine defines
  // deterministic semantics: the row with max (ts, event_id) wins.
  // ---------------------------------------------------------------------------
  def q13Watermark(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts").as("last_ts"), col("event_type").as("last_event_type"))
  }

  private val q13Sql =
    """SELECT user_id, ts AS last_ts, event_type AS last_event_type
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin

  // ---------------------------------------------------------------------------
  // Q14 — F6: the core slicer — sequence+explode generates the 5-minute
  // slices of one day (TaskUtils.py:53-101), left-joined to per-slice event
  // counts. 288 rows, empty slices kept with count 0.
  // Scale: events are bucketed to their slice via date math (no range join);
  // the tiny slice spine is broadcast.
  // ---------------------------------------------------------------------------
  def q14Slices(spark: SparkSession, dir: String): DataFrame = {
    val day0 = "2024-01-01 00:00:00"
    val slices = spark.range(1).select(
      explode(sequence(
        lit(day0).cast("timestamp"),
        lit("2024-01-01 23:55:00").cast("timestamp"),
        expr("INTERVAL 5 MINUTES"))).as("slice_ts"))
      // 5-minute slot index within the day: TZ-free integer arithmetic.
      .select(((unix_timestamp(col("slice_ts")) - unix_timestamp(lit(day0).cast("timestamp"))) / 300).cast("long").as("slice_id"))
    val counts = eventsInWindow(spark, dir, day0, "2024-01-02 00:00:00")
      .select(floor((unix_timestamp(col("ts").cast("timestamp")) - unix_timestamp(lit(day0).cast("timestamp"))) / 300).as("slice_id"))
      .groupBy(col("slice_id"))
      .agg(count(lit(1)).as("event_count"))
    slices.join(counts, Seq("slice_id"), "left")
      .select(col("slice_id"), coalesce(col("event_count"), lit(0L)).as("event_count"))
  }

  private val q14Sql =
    """WITH slices AS (
      |  SELECT CAST(range AS BIGINT) AS slice_id FROM range(0, 288)),
      |counts AS (
      |  SELECT CAST(floor((epoch(ts) - epoch(TIMESTAMP '2024-01-01 00:00:00'))/300) AS BIGINT) AS slice_id,
      |         count(*) AS event_count
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-02 00:00:00'
      |  GROUP BY 1)
      |SELECT s.slice_id, coalesce(c.event_count, 0) AS event_count
      |FROM slices s LEFT JOIN counts c ON s.slice_id = c.slice_id""".stripMargin

  // ---------------------------------------------------------------------------
  // Q15 — F2/F3: date encodings (trans_summary_5min.py:96-99 summary_date/
  // hours/mins stamping; GetNewTaskList.py:59-69 hour floor).
  // ---------------------------------------------------------------------------
  def q15Encodings(spark: SparkSession, dir: String): DataFrame =
    eventsInWindow(spark, dir)
      .groupBy(
        yyyymmdd(col("ts")).as("summary_date"),
        hour(col("ts")).as("hours"),
        date_trunc("hour", col("ts")).as("start_time"))
      .agg(count(lit(1)).as("cnt"), sum(money(col("value"))).cast("double").as("value_sum"))

  private val q15Sql =
    s"""SELECT CAST(strftime(ts, '%Y%m%d') AS INTEGER) AS summary_date,
       |  CAST(extract(hour FROM ts) AS INTEGER) AS hours,
       |  date_trunc('hour', ts) AS start_time,
       |  count(*) AS cnt,
       |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
       |FROM events
       |WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
       |GROUP BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------------------
  // Q16 — P8: NOT-IN anti filter (player_ranking…py:141 robots not shown in
  // the last 3 days): users active on 2024-01-02 with no events on 2024-01-03.
  // ---------------------------------------------------------------------------
  def q16AntiFilter(spark: SparkSession, dir: String): DataFrame = {
    val active = eventsInWindow(spark, dir, "2024-01-02 00:00:00", "2024-01-03 00:00:00")
      .select("user_id").distinct()
    val recent = eventsInWindow(spark, dir, "2024-01-03 00:00:00", "2024-01-04 00:00:00")
      .select("user_id").distinct()
    active.join(recent, Seq("user_id"), "left_anti")
  }

  private val q16Sql =
    """SELECT DISTINCT user_id FROM events
      |WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-03 00:00:00'
      |  AND user_id NOT IN (
      |    SELECT user_id FROM events
      |    WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' AND ts < TIMESTAMP '2024-01-04 00:00:00')""".stripMargin

  // ---------------------------------------------------------------------------
  // Q17 — engine surface: JSON scalar extraction over events.props (the
  // reference has no JSON columns; this exercises the engine's built-in
  // get_json_object path per SURVEY §2.8 note).
  // ---------------------------------------------------------------------------
  def q17Json(spark: SparkSession, dir: String): DataFrame =
    eventsInWindow(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(avg(col("k")).as("avg_k"), count(col("k")).as("k_count"))

  private val q17Sql =
    s"""SELECT event_type,
       |  avg(CAST(json_extract_string(props, '$$.k') AS INTEGER)) AS avg_k,
       |  count(CAST(json_extract_string(props, '$$.k') AS INTEGER)) AS k_count
       |FROM events
       |WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
       |GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------------------
  // Q18 — J2: 3-way left-join metric assembly (risk_ctrl_player_1d.py:143-152:
  // current ⋈ wma ⋈ watermark on the same key, then na.fill(0)).
  // Scale: all three inputs aggregate onto user_id first, so the joins are
  // between pre-shrunk relations on one shared key — AQE turns these into
  // broadcasts when small, else co-partitioned sort-merge with no extra
  // exchange.
  // ---------------------------------------------------------------------------
  def q18ThreeWay(spark: SparkSession, dir: String): DataFrame = {
    val base = q1TransSummary(spark, dir)
    val wma = q6Wma(spark, dir)
    val wm = q13Watermark(spark, dir)
    base.join(wma, Seq("user_id"), "left")
      .join(wm, Seq("user_id"), "left")
      .na.fill(0.0, Seq("wma", "wmasd"))
  }

  private val q18Sql =
    s"""WITH base AS ($q1Sql), wma AS ($q6Sql), wm AS ($q13Sql)
       |SELECT base.user_id, base.in_amount, base.out_amount, base.in_count, base.out_count,
       |  coalesce(wma.wma, 0) AS wma, coalesce(wma.wmasd, 0) AS wmasd,
       |  wm.last_ts, wm.last_event_type
       |FROM base
       |LEFT JOIN wma ON base.user_id = wma.user_id
       |LEFT JOIN wm ON base.user_id = wm.user_id""".stripMargin

  // ---------------------------------------------------------------------------
  // Q19 — session windows: player activity sessionized with a 30-minute
  // inactivity gap (the reference reconstructs "play sessions" by slicing
  // fixed windows; session_window is the operator it lacked). Spark semantics:
  // an event extends the session while it starts STRICTLY before prev_end
  // (= prev_ts + gap); session_end = last_ts + gap. The oracle states the
  // identical rule via gaps-and-islands (lag >= gap starts a new island).
  // Scale: one shuffle on user_id; sessionization is a per-key merge —
  // no cross-key state, no window over the full table.
  // ---------------------------------------------------------------------------
  def q19Sessions(spark: SparkSession, dir: String): DataFrame =
    eventsInWindow(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(money(col("value"))).cast("double").as("value_sum"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("value_sum"))

  // shared with s9_stream_sessions: the streamed session_window aggregation
  // over the same staged slice must equal this batch gaps-and-islands replay
  private[queries] val q19Sql =
    s"""WITH e AS (
       |  SELECT user_id, ts, value FROM events
       |  WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'),
       |marked AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
       |         ELSE 0 END AS new_sess
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |sess AS (
       |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
       |    ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM marked)
       |SELECT user_id,
       |  min(ts) AS session_start,
       |  max(ts) + INTERVAL 30 MINUTE AS session_end,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
       |FROM sess GROUP BY user_id, sid""".stripMargin

  // ---------------------------------------------------------------------------
  // Q20 — as-of join: each purchase attributed to the user's latest STRICTLY
  // earlier view event (last-touch attribution — the point-in-time lookup
  // the reference's row-at-a-time scripts do with correlated reads). Runs as
  // graft.ops.AsOfJoin: union + one keyed window scan, a single shuffle on
  // user_id — no range join, no per-row probe. The oracle states the same
  // total order (ts, purchase-before-view at equal ts, event_id) with
  // last_value IGNORE NULLS.
  // ---------------------------------------------------------------------------
  /** One body, two physical formulations (q20 union+window / q27 native
    * merge exec) sharing one oracle: the pair-producing function is the only
    * difference, so the shared-oracle invariant can't drift. */
  private def asOfShape(spark: SparkSession, dir: String,
      asOf: (DataFrame, DataFrame, Seq[String], String, String, Seq[String],
        Boolean, Seq[String]) => DataFrame): DataFrame = {
    val ev = eventsInWindow(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase").select(
      col("event_id").as("purchase_id"), col("user_id"),
      col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    val views = ev.filter(col("event_type") === "view").select(
      col("user_id"), col("event_id").as("view_id"),
      col("ts").as("view_ts"), col("value").as("view_value"))
    asOf(purchases, views, Seq("user_id"), "purchase_ts", "view_ts",
      Seq("view_id", "view_ts", "view_value"), true, Seq("view_id"))
  }

  def q20AsOf(spark: SparkSession, dir: String): DataFrame =
    asOfShape(spark, dir, graft.ops.AsOfJoin.asOfLeft)

  /** q20's shape through the NATIVE sort-merge as-of exec
    * (graft.plans.AsOfMergeJoin: custom LogicalPlan -> SparkStrategy ->
    * BinaryExecNode, a single forward merge per co-partitioned sorted
    * partition). Shares q20's oracle: same semantics, different physical
    * plan — the harness proves the custom operator path end to end. */
  def q27AsOfNative(spark: SparkSession, dir: String): DataFrame =
    asOfShape(spark, dir, graft.plans.AsOfMergeJoin.asOfLeft)

  // shared with the streaming twin s2_stream_asof (StreamingQueries)
  private[queries] val q20Sql =
    s"""WITH e AS (
       |  SELECT event_id, ts, user_id, event_type, value FROM events
       |  WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
       |    AND event_type IN ('view', 'purchase')),
       |u AS (
       |  SELECT user_id, ts, event_id, value,
       |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side
       |  FROM e),
       |w AS (
       |  SELECT user_id, ts, event_id, value, side,
       |    last_value(CASE WHEN side = 1 THEN event_id END IGNORE NULLS) OVER win AS view_id,
       |    last_value(CASE WHEN side = 1 THEN ts END IGNORE NULLS) OVER win AS view_ts,
       |    last_value(CASE WHEN side = 1 THEN value END IGNORE NULLS) OVER win AS view_value
       |  FROM u
       |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
       |  value AS purchase_value, view_id, view_ts, view_value
       |FROM w WHERE side = 0""".stripMargin

  // ---------------------------------------------------------------------------
  // Q21 — banded range join: views per purchase in the preceding 10 minutes
  // (graft.ops.RangeJoin: time bucketed into the equi-join key, one hash
  // shuffle, each pair produced once — the batch twin of the stream-stream
  // interval join). Sum is decimal-cast before aggregation so the result is
  // bit-deterministic at any parallelism.
  // ---------------------------------------------------------------------------
  /** One body, two pair producers (q21 banded / q28 native merge exec)
    * sharing one oracle — only the range-join call differs. */
  private def rangeShape(spark: SparkSession, dir: String,
      preceding: (DataFrame, DataFrame, Seq[String], String, String, Long,
        Seq[String]) => DataFrame): DataFrame = {
    val ev = eventsInWindow(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase").select(
      col("event_id").as("purchase_id"), col("user_id"),
      col("ts").as("purchase_ts"))
    val views = ev.filter(col("event_type") === "view").select(
      col("user_id"), col("ts").as("view_ts"), col("value").as("view_value"))
    val pairs = preceding(purchases, views,
      Seq("user_id"), "purchase_ts", "view_ts", 600L, Seq("view_value"))
    val agg = pairs.groupBy(col("purchase_id")).agg(
      count(lit(1)).as("views_10m"),
      sum(money(col("view_value"))).as("_sum"))
    purchases.join(agg, Seq("purchase_id"), "left").select(
      col("purchase_id"), col("user_id"), col("purchase_ts"),
      coalesce(col("views_10m"), lit(0L)).as("views_10m"),
      coalesce(col("_sum").cast("double"), lit(0.0)).as("view_value_10m"))
  }

  def q21RangeJoin(spark: SparkSession, dir: String): DataFrame =
    rangeShape(spark, dir, graft.ops.RangeJoin.precedingPairs)

  /** q21's shape through the NATIVE range-merge exec
    * (graft.plans.RangeMergeJoin: merge scan with a sliding per-key window
    * buffer — no left-side bucket explosion, each right row visited once).
    * Shares q21's oracle: same semantics, different physical plan. */
  def q28RangeNative(spark: SparkSession, dir: String): DataFrame =
    rangeShape(spark, dir, graft.plans.RangeMergeJoin.precedingPairs)

  private val q21Sql =
    s"""WITH e AS (
       |  SELECT event_id, ts, user_id, event_type, value FROM events
       |  WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'),
       |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
       |      FROM e WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, ts, value FROM e WHERE event_type = 'view')
       |SELECT p.purchase_id, p.user_id, p.purchase_ts,
       |  count(v.ts) AS views_10m,
       |  CAST(coalesce(sum(CAST(v.value AS DECIMAL(12,2))), 0) AS DOUBLE) AS view_value_10m
       |FROM p LEFT JOIN v ON v.user_id = p.user_id
       |  AND v.ts >= p.purchase_ts - INTERVAL 10 MINUTE AND v.ts < p.purchase_ts
       |GROUP BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------------------
  // Q22 — exact percentile distribution report: token-count quartiles per
  // language over documents (curation dashboards need distribution cuts, not
  // just means). Spark's exact `percentile` and DuckDB's `quantile_cont`
  // share the linear-interpolation definition; inputs are integers (exactly
  // representable), so the interpolated values agree bitwise. At 100 TB the
  // exact aggregate holds per-group sorted state — swap to approx_percentile
  // for one-pass sketching when groups stop fitting; the column API is the
  // same shape.
  // ---------------------------------------------------------------------------
  def q22Quantiles(spark: SparkSession, dir: String): DataFrame = {
    val f = graft.ext.TextStats.qualityFeatures(Tables.documents(spark, dir))
    f.groupBy(col("lang")).agg(
      count(lit(1)).as("docs"),
      percentile(col("token_count"), lit(0.25)).as("p25_tokens"),
      percentile(col("token_count"), lit(0.5)).as("p50_tokens"),
      percentile(col("token_count"), lit(0.75)).as("p75_tokens"),
      max(col("token_count")).as("max_tokens"))
  }

  private val q22Sql =
    """WITH f AS (
      |  SELECT lang,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS token_count
      |  FROM documents)
      |SELECT lang, count(*) AS docs,
      |  quantile_cont(token_count, 0.25) AS p25_tokens,
      |  quantile_cont(token_count, 0.5) AS p50_tokens,
      |  quantile_cont(token_count, 0.75) AS p75_tokens,
      |  max(token_count) AS max_tokens
      |FROM f GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------------------
  // Q23 — distinct users per event_type × day (daily-active-users shape).
  // Exact countDistinct: Spark plans it as a two-phase aggregate (map-side
  // partial dedup of (group, user) pairs, then the count after the shuffle)
  // — the shuffle carries distinct pairs only, not raw events. At 100 TB the
  // sketching swap is approx_count_distinct (HLL++, one pass, mergeable
  // across partitions, fixed-size state); FixtureQueriesSpec asserts the
  // sketch lands within 5% of this exact result on the fixture.
  // ---------------------------------------------------------------------------
  def q23Distinct(spark: SparkSession, dir: String): DataFrame =
    eventsInWindow(spark, dir)
      .groupBy(col("event_type"), yyyymmdd(col("ts")).as("summary_date"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  private val q23Sql =
    s"""SELECT event_type, CAST(strftime(ts, '%Y%m%d') AS INTEGER) AS summary_date,
       |  count(DISTINCT user_id) AS n_users, count(*) AS n_events
       |FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
       |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------------
  // Q24 — pivoted daily report: event counts by day with one column per
  // event_type. The pivot values are DECLARED (not discovered), which keeps
  // the plan a single aggregate pass — Spark's value-discovering pivot runs
  // an extra distinct job first, which at 100 TB is a full second scan. The
  // oracle states the same thing as portable conditional sums.
  // ---------------------------------------------------------------------------
  def q24Pivot(spark: SparkSession, dir: String): DataFrame =
    eventsInWindow(spark, dir)
      .groupBy(yyyymmdd(col("ts")).as("summary_date"))
      .pivot("event_type", Seq("click", "view", "purchase", "error"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("click", "view", "purchase", "error"))

  private val q24Sql =
    s"""SELECT CAST(strftime(ts, '%Y%m%d') AS INTEGER) AS summary_date,
       |  count(*) FILTER (WHERE event_type = 'click') AS "click",
       |  count(*) FILTER (WHERE event_type = 'view') AS "view",
       |  count(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
       |  count(*) FILTER (WHERE event_type = 'error') AS "error"
       |FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'
       |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // Q25 — multi-dimensional rollup via cube: event counts and decimal-exact
  // value sums for every combination of (event_type, day-of-week), with
  // grouping_id distinguishing the aggregation levels (the reporting shape a
  // cascade of separate GROUP BYs would otherwise recompute from base data
  // four times — cube shares one scan). Oracle: DuckDB CUBE + GROUPING.
  // ---------------------------------------------------------------------------
  def q25Cube(spark: SparkSession, dir: String): DataFrame =
    eventsInWindow(spark, dir)
      .withColumn("dow", dayofweek(col("ts")))
      .cube(col("event_type"), col("dow"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_events"),
        sum(money(col("value"))).cast("double").as("value_sum"))

  private val q25Sql =
    s"""WITH e AS (
       |  SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS dow, value
       |  FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1')
       |SELECT event_type, dow,
       |  CAST(2 * GROUPING(event_type) + GROUPING(dow) AS BIGINT) AS gid,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
       |FROM e GROUP BY CUBE (event_type, dow)""".stripMargin

  // ---------------------------------------------------------------------------
  // Q26 — star join (TPC-H Q5 shape): revenue per region × order priority
  // through lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region, with
  // the co-located-nation condition (customer and supplier in the same
  // nation). The 100 TB plan shape: ONE shuffle pair for the fact⋈fact
  // lineitem⋈orders join; customer shuffles to meet it; nation/region (and
  // at fixture scale supplier) broadcast — the hierarchy dims never shuffle
  // the fact table. Revenue is decimal-cast before summing for bit
  // determinism.
  // ---------------------------------------------------------------------------
  def q26StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("o_orderpriority"))
      .agg(
        sum((money(col("l_extendedprice")) * (lit(new java.math.BigDecimal(1))
          - money(col("l_discount")))).cast("decimal(18,4)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val q26Sql =
    """SELECT r_name AS region_name, o_orderpriority,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
      |            * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------------
  // q29 — correlated LATERAL join through the spark.sql surface: top-2
  // customers by account balance per nation. Exercises the SQL entry point
  // (temp views + ANSI LATERAL) rather than the DataFrame API; Catalyst
  // plans the correlated limit as a per-key top-k. Ties impossible (c_name
  // unique), so the 2-row cut is deterministic on both engines.
  // ---------------------------------------------------------------------------
  def q29Lateral(spark: SparkSession, dir: String): DataFrame = {
    Tables.nation(spark, dir).createOrReplaceTempView("g_nation")
    Tables.customer(spark, dir).createOrReplaceTempView("g_customer")
    spark.sql(
      """SELECT n.n_name AS nation_name, c.c_name AS customer_name, c.bal
        |FROM g_nation n, LATERAL (
        |  SELECT c_name, CAST(c_acctbal AS DOUBLE) AS bal
        |  FROM g_customer WHERE c_nationkey = n.n_nationkey
        |  ORDER BY bal DESC, c_name LIMIT 2) c""".stripMargin)
  }

  private val q29Sql =
    """SELECT n.n_name AS nation_name, c.c_name AS customer_name, c.bal
      |FROM nation n JOIN LATERAL (
      |  SELECT c_name, CAST(c_acctbal AS DOUBLE) AS bal
      |  FROM customer WHERE c_nationkey = n.n_nationkey
      |  ORDER BY bal DESC, c_name LIMIT 2) c ON true""".stripMargin

  // ---------------------------------------------------------------------------
  // q30 — unpivot (wide -> long): the q1 amount battery melted to
  // (user_id, metric, amount) rows. Exercises Dataset.unpivot (Spark's
  // melt operator — an Expand node, narrow, no shuffle beyond q1's agg);
  // the oracle is the equivalent UNION ALL.
  // ---------------------------------------------------------------------------
  def q30Unpivot(spark: SparkSession, dir: String): DataFrame =
    q1TransSummary(spark, dir).unpivot(
      ids = Array(col("user_id")),
      values = Array(col("in_amount"), col("out_amount")),
      variableColumnName = "metric",
      valueColumnName = "amount")

  private val q30Sql =
    s"""WITH base AS ($q1Sql)
       |SELECT user_id, 'in_amount' AS metric, in_amount AS amount FROM base
       |UNION ALL
       |SELECT user_id, 'out_amount' AS metric, out_amount AS amount FROM base""".stripMargin

  // ---------------------------------------------------------------------------
  // q31 — explicit GROUPING SETS (the reporting shape between q4's cascade of
  // separate GROUP BYs and q25's full cube): exactly the three levels the
  // reference's daily report emits — per-(type,dow) detail, per-type subtotal,
  // grand total — in ONE scan. Spark's DataFrame API only exposes rollup/cube,
  // so this goes through the SQL surface; Catalyst plans it as one Expand +
  // hash agg (3 replicas per row, not 4 like cube — Expand width tracks the
  // requested sets). Scale: single shuffle on the expanded keys.
  // ---------------------------------------------------------------------------
  def q31GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    eventsInWindow(spark, dir)
      .select(col("event_type"), dayofweek(col("ts")).as("dow"), col("value"))
      .createOrReplaceTempView("g_events_q31")
    spark.sql(
      """SELECT event_type, dow,
        |  CAST(2 * grouping(event_type) + grouping(dow) AS BIGINT) AS gid,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
        |FROM g_events_q31
        |GROUP BY GROUPING SETS ((event_type, dow), (event_type), ())""".stripMargin)
  }

  private val q31Sql =
    s"""WITH e AS (
       |  SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS dow, value
       |  FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1')
       |SELECT event_type, dow,
       |  CAST(2 * GROUPING(event_type) + GROUPING(dow) AS BIGINT) AS gid,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
       |FROM e GROUP BY GROUPING SETS ((event_type, dow), (event_type), ())""".stripMargin

  // ---------------------------------------------------------------------------
  // q32 — lead/lag event-sequence deltas: per-user previous-event gap (exact
  // integer microseconds via timestampdiff) and next-event value — the
  // session-reconstruction primitive under funnel/attribution reports. Order
  // is total ((ts, event_id) with event_id unique), so lead/lag are
  // deterministic on both engines. Scale: one shuffle on user_id, then a
  // narrow per-partition sort — no global ordering anywhere.
  // ---------------------------------------------------------------------------
  def q32LeadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    eventsInWindow(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_us", expr("timestampdiff(MICROSECOND, prev_ts, ts)"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("next_value", lead(money(col("value")), 1).over(w).cast("double"))
      .select(col("user_id"), col("event_id"), col("gap_us"), col("prev_type"), col("next_value"))
  }

  private val q32Sql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, ts, event_type, value FROM events
       |  WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'),
       |w AS (
       |  SELECT user_id, event_id, ts,
       |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
       |    lead(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
       |  FROM e)
       |SELECT user_id, event_id,
       |  date_diff('microsecond', prev_ts, ts) AS gap_us,
       |  prev_type, CAST(next_value AS DOUBLE) AS next_value
       |FROM w""".stripMargin

  // ---------------------------------------------------------------------------
  // q33 — ntile quartile report: per-market-segment balance quartiles (count /
  // decimal-exact sum / min / max per tile). ntile's SQL-standard definition
  // (first buckets take the remainder) matches DuckDB's; the order
  // (c_acctbal, c_custkey) is total so tile assignment is deterministic.
  // Scale: the window partitions by segment — each segment sorts within its
  // own shuffle partition; no global sort. Segment cardinality is tiny (5)
  // with big partitions at 100 TB — production would pre-bucket by range
  // (approx quantile cuts) instead; the per-segment window keeps the exact
  // standard semantics the report asks for.
  // ---------------------------------------------------------------------------
  def q33Ntile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
      .withColumn("tile", ntile(4).over(w))
      .groupBy(col("c_mktsegment"), col("tile"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(money(col("c_acctbal"))).cast("double").as("bal_sum"),
        min(money(col("c_acctbal"))).cast("double").as("bal_min"),
        max(money(col("c_acctbal"))).cast("double").as("bal_max"))
  }

  private val q33Sql =
    """WITH t AS (
      |  SELECT c_mktsegment, c_acctbal,
      |    ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS tile
      |  FROM customer)
      |SELECT c_mktsegment, CAST(tile AS INTEGER) AS tile,
      |  count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal_sum,
      |  CAST(min(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal_min,
      |  CAST(max(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal_max
      |FROM t GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------------
  // q34 — running window frames: per-user running balance (ROWS UNBOUNDED
  // PRECEDING decimal sum — order-dependent but exact, so bitwise across
  // engines), trailing 3-row max, and row_number — the cumulative-ledger
  // shape of the reference's per-player statements. One shuffle on user_id;
  // all three frames share a single per-partition sort (same window spec).
  // ---------------------------------------------------------------------------
  def q34RunningFrames(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    eventsInWindow(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("running_total",
        sum(money(col("value"))).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("trail3_max",
        max(money(col("value"))).over(w.rowsBetween(-2, Window.currentRow)).cast("double"))
      .select(col("user_id"), col("event_id"), col("rn"), col("running_total"), col("trail3_max"))
  }

  private val q34Sql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, ts, CAST(value AS DECIMAL(12,2)) AS v FROM events
       |  WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1')
       |SELECT user_id, event_id,
       |  CAST(row_number() OVER w AS INTEGER) AS rn,
       |  CAST(sum(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
       |  CAST(max(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trail3_max
       |FROM e
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  // ---------------------------------------------------------------------------
  // q35 — KMV distinct-count sketch vs exact: per-event-type approximate
  // distinct users from the k=64 minimum-values sketch (custom Catalyst
  // TypedImperativeAggregate, graft.functions.KmvDistinct) next to the
  // exact count and the realized relative error. The sketch holds O(k)
  // state per group at every stage — map partial, shuffle, reduce merge —
  // where exact count(distinct) holds the whole per-group value set; at
  // 100 TB the sketch is the only per-group-distinct that fits. Unlike
  // HLL (approx_count_distinct), KMV over a shared hash is a pure function
  // of the value set, so the oracle replays it bitwise: DuckDB takes the
  // same 63-bit md5 hashes, ranks them per group, and applies the same
  // (k-1)*2^63/kth estimator.
  // ---------------------------------------------------------------------------
  def q35ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    eventsInWindow(spark, dir)
      .select(col("event_type"), col("user_id"))
      .withColumn("h", shiftrightunsigned(
        graft.functions.HashFunctions.md5_lo64(col("user_id").cast("string")), 1))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("exact_users"),
        graft.functions.AggFunctions.kmv_distinct(col("h"), 64).as("approx_users"))
      .withColumn("rel_err",
        col("approx_users") / col("exact_users").cast("double") - lit(1.0))

  private val q35Sql =
    s"""WITH e AS (
       |  SELECT event_type, user_id FROM events
       |  WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'),
       |h AS (
       |  SELECT DISTINCT event_type,
       |    CAST(md5_number_lower(CAST(user_id AS VARCHAR)) >> 1 AS BIGINT) AS h
       |  FROM e),
       |r AS (
       |  SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS nd
       |  FROM h),
       |k AS (
       |  SELECT event_type, max(nd) AS nd,
       |    max(CASE WHEN rn = 64 THEN h END) AS kth
       |  FROM r GROUP BY 1),
       |b AS (
       |  SELECT event_type, count(*) AS n_events,
       |    count(DISTINCT user_id) AS exact_users
       |  FROM e GROUP BY 1),
       |s AS (
       |  SELECT b.event_type, b.n_events, b.exact_users,
       |    CASE WHEN k.nd < 64 THEN CAST(k.nd AS DOUBLE)
       |         ELSE (CAST(63 AS DOUBLE) * power(2.0, 63)) / CAST(k.kth AS DOUBLE)
       |         END AS approx_users
       |  FROM b JOIN k USING (event_type))
       |SELECT event_type, n_events, exact_users, approx_users,
       |  approx_users / CAST(exact_users AS DOUBLE) - 1.0 AS rel_err
       |FROM s""".stripMargin

  // ---------------------------------------------------------------------------
  // q36 — INTERSECT (the set op q11's union/except battery lacks): users
  // active in BOTH the first and last week of the window. Spark's
  // `intersect` is distinct-intersection (SQL INTERSECT), planned as a
  // left-semi join over pre-aggregated distincts — both sides shrink to
  // their key sets BEFORE the join, so at 100 TB the join moves user ids,
  // not events.
  // ---------------------------------------------------------------------------
  def q36Intersect(spark: SparkSession, dir: String): DataFrame = {
    val week1 = eventsInWindow(spark, dir, W0, "2024-01-08 00:00:00").select("user_id")
    val week4 = eventsInWindow(spark, dir, "2024-01-24 00:00:00", W1).select("user_id")
    week1.intersect(week4)
  }

  private val q36Sql =
    s"""SELECT user_id FROM events
       |WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '2024-01-08 00:00:00'
       |INTERSECT
       |SELECT user_id FROM events
       |WHERE ts >= TIMESTAMP '2024-01-24 00:00:00' AND ts < TIMESTAMP '$W1'""".stripMargin

  // ---------------------------------------------------------------------------
  // q37 — correlated scalar aggregate: customers whose balance exceeds
  // their nation's average. Catalyst de-correlates to an aggregate +
  // broadcast join (25 nation rows), never a per-row subquery; the oracle
  // writes the textbook correlated form. The avg is sum(DECIMAL)/count —
  // one IEEE division per nation on both engines — and the comparison uses
  // the decimal balance, so membership is exact.
  // ---------------------------------------------------------------------------
  def q37CorrelatedAvg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val natAvg = c.groupBy(col("c_nationkey"))
      .agg((sum(money(col("c_acctbal"))).cast("double")
        / count(lit(1)).cast("double")).as("nation_avg"))
    c.join(broadcast(natAvg), Seq("c_nationkey"))
      .filter(money(col("c_acctbal")).cast("double") > col("nation_avg"))
      .select(col("c_custkey"), col("c_name"),
        money(col("c_acctbal")).cast("double").as("bal"), col("nation_avg"))
  }

  private val q37Sql =
    """SELECT c_custkey, c_name,
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal,
      |  (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
      |          / CAST(count(*) AS DOUBLE)
      |   FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey) AS nation_avg
      |FROM customer c
      |WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) >
      |  (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
      |          / CAST(count(*) AS DOUBLE)
      |   FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin

  // ---------------------------------------------------------------------------
  // q38 — relative-rank windows: percent_rank and cume_dist of order value
  // per priority class. Both are pure integer-ratio formulas
  // ((rank-1)/(n-1), rank_le/n) evaluated as ONE IEEE division, so they
  // compare bitwise; the order (o_totalprice desc, o_orderkey) is total.
  // Same shuffle discipline as q34: one exchange, one sort, both window
  // functions share the frame.
  // ---------------------------------------------------------------------------
  def q38RelativeRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("price").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        money(col("o_totalprice")).as("price"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("price").cast("double").as("price"), col("pct_rank"), col("cume"))
  }

  private val q38Sql =
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |  ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey)""".stripMargin

  // ---------------------------------------------------------------------------
  // q39 — time-weighted average value (TWAP) per user-day: each event's
  // value holds until the next event; the average weights by that holding
  // gap. All weighting is INTEGER arithmetic — cents (exact decimal*100)
  // times whole-second gaps summed as BIGINT — so the only IEEE ops are the
  // two final divisions in fixed order, and the result compares bitwise.
  // The day's last event has no successor and carries no weight (the
  // standard left-closed TWAP convention). One shuffle on user_id; the lag
  // window and the day rollup share it.
  // ---------------------------------------------------------------------------
  def q39Twap(spark: SparkSession, dir: String): DataFrame = {
    eventsInWindow(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        to_date(col("ts")).as("day"),
        (money(col("value")) * lit(100)).cast("long").as("cents"))
      // gaps are non-negative, so `div` (truncation) == `//` (floor)
      .withColumn("gap_s",
        expr("timestampdiff(MICROSECOND, ts, lead(ts, 1) over " +
          "(partition by user_id, day order by ts, event_id)) div 1000000"))
      .groupBy(col("user_id"), col("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(coalesce(col("gap_s"), lit(0L))).as("active_s"),
        sum(when(col("gap_s").isNotNull, col("cents") * col("gap_s"))
          .otherwise(0L)).as("wsum"))
      .filter(col("active_s") > 0)
      .withColumn("twap",
        col("wsum").cast("double") / lit(100.0) / col("active_s").cast("double"))
      .drop("wsum")
  }

  private val q39Sql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, ts, CAST(ts AS DATE) AS day,
       |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
       |  FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'),
       |g AS (
       |  SELECT user_id, day, cents,
       |    date_diff('microsecond', ts,
       |      lead(ts) OVER (PARTITION BY user_id, day ORDER BY ts, event_id))
       |      // 1000000 AS gap_s
       |  FROM e),
       |a AS (
       |  SELECT user_id, day, count(*) AS n_events,
       |    CAST(sum(coalesce(gap_s, 0)) AS BIGINT) AS active_s,
       |    CAST(sum(CASE WHEN gap_s IS NOT NULL THEN cents * gap_s ELSE 0 END) AS BIGINT) AS wsum
       |  FROM g GROUP BY 1, 2)
       |SELECT user_id, day, n_events, active_s,
       |  CAST(wsum AS DOUBLE) / 100.0 / CAST(active_s AS DOUBLE) AS twap
       |FROM a WHERE active_s > 0""".stripMargin

  // ---------------------------------------------------------------------------
  // q40 — retention cohort matrix: users bucketed by first-activity day,
  // counted on each later activity day as an offset from their cohort —
  // the triangle every growth dashboard draws. Everything is integer
  // (dates, day offsets, distinct-user counts), so the compare is exact.
  // Shape: distinct (user, day) collapses the events first (the matrix
  // never sees raw rows); the cohort min is a second agg on user_id; the
  // join back is on user_id (broadcast-able per-user row at fixture scale,
  // co-partitioned at 100 TB) and the final rollup is one more shuffle.
  // ---------------------------------------------------------------------------
  def q40RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val days = eventsInWindow(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohort = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    days.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  private val q40Sql =
    s"""WITH d AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
       |  FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'),
       |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
       |SELECT c.cohort_day,
       |  CAST(date_diff('day', c.cohort_day, d.day) AS INTEGER) AS day_offset,
       |  count(*) AS n_users
       |FROM d JOIN c USING (user_id)
       |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------------
  // q41 — exact-deterministic Pearson correlation: does event value
  // correlate with time of day, per event type? Spark's corr() (and any
  // streaming-sum formulation over doubles) is order-dependent float
  // addition — nondeterministic across partitionings. This one gathers the
  // SIX sufficient statistics as exact integers (cents x second-of-day,
  // all BIGINT sums — one shuffle, map-side partial), then evaluates the
  // textbook formula in a fixed order of IEEE ops; same integers + same
  // op order = same bits on any engine or partitioning.
  // ---------------------------------------------------------------------------
  def q41Correlation(spark: SparkSession, dir: String): DataFrame = {
    val sums = eventsInWindow(spark, dir)
      .select(col("event_type"),
        (money(col("value")) * lit(100)).cast("long").as("x"),
        expr("timestampdiff(SECOND, date_trunc('DAY', ts), ts)").as("y"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val n = col("n").cast("double")
    val (sx, sy, sxy, sxx, syy) = (col("sx").cast("double"), col("sy").cast("double"),
      col("sxy").cast("double"), col("sxx").cast("double"), col("syy").cast("double"))
    sums.select(col("event_type"), col("n"),
      ((n * sxy - sx * sy)
        / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))).as("value_tod_corr"))
  }

  private val q41Sql =
    s"""WITH e AS (
       |  SELECT event_type,
       |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
       |    date_diff('second', date_trunc('day', ts), ts) AS y
       |  FROM events WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'),
       |s AS (
       |  SELECT event_type, count(*) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM e GROUP BY 1)
       |SELECT event_type, n,
       |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |  AS value_tod_corr
       |FROM s""".stripMargin

  // ---------------------------------------------------------------------------
  // q42 — trailing 7-day distinct users per day, via the KMV sketch: the
  // classic hard sliding-window metric. Exact distinct over a sliding
  // window can't partial-aggregate (every day re-deduplicates a week);
  // the sketch CAN, because a merged sketch equals the sketch of the
  // union — so each event fans out narrowly into the <=7 window-days it
  // feeds (an Expand, no shuffle), and ONE hash aggregation builds every
  // day's sketch with O(k) state per day. The oracle replays the same
  // fan-out and the same (k-1)*2^63/kth estimator per window directly
  // over the union — equality is exactly the sketch-merge law.
  // ---------------------------------------------------------------------------
  def q42SlidingDistinct(spark: SparkSession, dir: String): DataFrame =
    eventsInWindow(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .withColumn("window_day", explode(expr("sequence(day, date_add(day, 6))")))
      .filter(col("window_day") < to_date(lit(W1)))
      .withColumn("h", shiftrightunsigned(
        graft.functions.HashFunctions.md5_lo64(col("user_id").cast("string")), 1))
      .groupBy("window_day")
      .agg(
        count(lit(1)).as("n_events"),
        graft.functions.AggFunctions.kmv_distinct(col("h"), 64).as("approx_users_7d"))

  private val q42Sql =
    s"""WITH e AS (
       |  SELECT CAST(ts AS DATE) AS day, user_id FROM events
       |  WHERE ts >= TIMESTAMP '$W0' AND ts < TIMESTAMP '$W1'),
       |f AS (
       |  SELECT user_id, unnest(range(0, 7)) AS o, day FROM e),
       |w AS (
       |  SELECT user_id, day + CAST(o AS INTEGER) AS window_day FROM f
       |  WHERE day + CAST(o AS INTEGER) < CAST(TIMESTAMP '$W1' AS DATE)),
       |h AS (
       |  SELECT DISTINCT window_day,
       |    CAST(md5_number_lower(CAST(user_id AS VARCHAR)) >> 1 AS BIGINT) AS h
       |  FROM w),
       |r AS (
       |  SELECT window_day, h,
       |    row_number() OVER (PARTITION BY window_day ORDER BY h) AS rn,
       |    count(*) OVER (PARTITION BY window_day) AS nd
       |  FROM h),
       |k AS (
       |  SELECT window_day, max(nd) AS nd,
       |    max(CASE WHEN rn = 64 THEN h END) AS kth
       |  FROM r GROUP BY 1),
       |b AS (SELECT window_day, count(*) AS n_events FROM w GROUP BY 1)
       |SELECT b.window_day, b.n_events,
       |  CASE WHEN k.nd < 64 THEN CAST(k.nd AS DOUBLE)
       |       ELSE (CAST(63 AS DOUBLE) * power(2.0, 63)) / CAST(k.kth AS DOUBLE)
       |       END AS approx_users_7d
       |FROM b JOIN k USING (window_day)""".stripMargin

  // ---------------------------------------------------------------------------
  // q43 — ordered windowed funnel (view -> click -> purchase within 24h of
  // the first view, greedy-earliest). Every shuffle is on user_id; the
  // per-step frames shrink monotonically; the summary is a plan-side union
  // of single-row aggregates. Integer counts + one 6dp division = bitwise.
  // ---------------------------------------------------------------------------
  def q43Funnel(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.funnel(
      graft.Tables.events(spark, dir),
      keyCol = col("user_id"), tsCol = col("ts"),
      steps = Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase")),
      horizon = "24 HOURS")

  private[queries] val q43Sql =
    """WITH s1 AS (
      |  SELECT user_id AS k, min(ts) AS t, min(ts) + INTERVAL 24 HOUR AS deadline
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id AS k, min(e.ts) AS t, min(s.deadline) AS deadline
      |  FROM events e JOIN s1 s ON s.k = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s.t AND e.ts < s.deadline
      |  GROUP BY 1),
      |s3 AS (
      |  SELECT e.user_id AS k, min(e.ts) AS t, min(s.deadline) AS deadline
      |  FROM events e JOIN s2 s ON s.k = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s.t AND e.ts < s.deadline
      |  GROUP BY 1),
      |c AS (
      |  SELECT 1 AS step, 'view' AS step_name, count(*) AS users FROM s1
      |  UNION ALL SELECT 2, 'click', count(*) FROM s2
      |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
      |SELECT step, step_name, users,
      |  round(CAST(users AS DOUBLE)
      |    / CAST((SELECT users FROM c WHERE step = 1) AS DOUBLE), 6) AS conversion
      |FROM c""".stripMargin

  // ---------------------------------------------------------------------------
  // q44 — Pareto/ABC revenue classification: parts ranked by discounted
  // revenue, cut at 70%/90% cumulative share. The cumulative sum runs as
  // the generalized two-pass distributed prefix scan over (revenue DESC,
  // partkey) — no single-partition window at billion-part scale. Revenue is
  // exact integer cents per line (the .5-cent rounding is exact in doubles:
  // N+0.5 is representable below 2^51), so shares are one division each.
  // ---------------------------------------------------------------------------
  def q44Pareto(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
    val rev = li.select(
        col("l_partkey").as("partkey"),
        round(col("l_extendedprice").cast("decimal(12,2)").cast("double") * lit(100.0)
          * (lit(100L) - round(col("l_discount") * lit(100.0))) / lit(100.0))
          .cast("long").as("rev_cents"))
      .groupBy("partkey").agg(sum(col("rev_cents")).as("rev"))
    val scanned = graft.ops.PrefixSum.exclusiveRunningTotalOrdered(
      rev, Seq(col("rev").desc, col("partkey").asc), "rev", outCol = "prior_rev")
    // the grand total reads the PINNED scan output, not `rev` — aggregating
    // rev again would re-run the full lineitem scan + aggregation
    val total = scanned.agg(sum(col("rev")).as("total"))
    scanned.crossJoin(broadcast(total))
      .withColumn("cum_share",
        (col("prior_rev") + col("rev")).cast("double") / col("total").cast("double"))
      .withColumn("pareto_class",
        when(col("cum_share") <= 0.70, "A")
          .when(col("cum_share") <= 0.90, "B").otherwise("C"))
      .groupBy("pareto_class")
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("revenue_cents"))
  }

  private[queries] val q44Sql =
    """WITH r AS (
      |  SELECT l_partkey AS partkey,
      |    sum(CAST(round(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) * 100.0
      |      * (100 - round(l_discount * 100.0)) / 100.0) AS BIGINT)) AS rev
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT sum(rev) AS total FROM r),
      |c AS (
      |  SELECT partkey, rev,
      |    CAST(sum(rev) OVER (ORDER BY rev DESC, partkey
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
      |      / CAST((SELECT total FROM t) AS DOUBLE) AS cum_share
      |  FROM r)
      |SELECT CASE WHEN cum_share <= 0.70 THEN 'A'
      |            WHEN cum_share <= 0.90 THEN 'B' ELSE 'C' END AS pareto_class,
      |  count(*) AS n_parts, CAST(sum(rev) AS BIGINT) AS revenue_cents
      |FROM c GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // q45 — equi-depth histogram (16 buckets) of lineitem price cents: the
  // optimizer-statistics pass. Bucket = floor(pos * k / n) over the global
  // (cents, orderkey, linenumber) order — positions from the two-pass
  // distributed scan, NOT ntile (whose remainder allocation differs and
  // whose global window would serialize); the oracle replays the same
  // row_number arithmetic. Pure integer throughout.
  // ---------------------------------------------------------------------------
  def q45EquiDepth(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir).select(
      (col("l_extendedprice").cast("decimal(12,2)") * lit(100)).cast("long").as("cents"),
      col("l_orderkey"), col("l_linenumber"), lit(1L).as("one"))
    val scanned = graft.ops.PrefixSum.exclusiveRunningTotalOrdered(
      li, Seq(col("cents").asc, col("l_orderkey").asc, col("l_linenumber").asc),
      "one", outCol = "pos")
    // row count from the PINNED scan output — counting `li` again would
    // re-scan lineitem end to end
    val n = scanned.agg(count(lit(1)).as("n"))
    scanned.crossJoin(broadcast(n))
      .withColumn("bucket", expr("pos * 16 div n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
  }

  private[queries] val q45Sql =
    """WITH v AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    l_orderkey, l_linenumber
      |  FROM lineitem),
      |n AS (SELECT count(*) AS n FROM v),
      |p AS (
      |  SELECT cents,
      |    (row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber) - 1) * 16
      |      // (SELECT n FROM n) AS bucket
      |  FROM v)
      |SELECT bucket, count(*) AS n_rows,
      |  min(cents) AS lo_cents, max(cents) AS hi_cents
      |FROM p GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // q46 — referential-integrity audit: orphan counts for every foreign-key
  // edge of the star schema. Each relationship is one anti join on its key
  // (dimension sides broadcast where small) collapsed to a single-row
  // aggregate; the report is a plan-side union. The audit a lake runs
  // before promoting a snapshot.
  // ---------------------------------------------------------------------------
  def q46Integrity(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
    val ord = graft.Tables.orders(spark, dir)
    val cust = graft.Tables.customer(spark, dir)
    val part = graft.Tables.part(spark, dir)
    val supp = graft.Tables.supplier(spark, dir)
    val nat = graft.Tables.nation(spark, dir)
    def audit(name: String, child: org.apache.spark.sql.DataFrame, childKey: String,
        parent: org.apache.spark.sql.DataFrame, parentKey: String) = {
      val orphans = child.select(col(childKey).as("k"))
        .join(parent.select(col(parentKey).as("k")), Seq("k"), "left_anti")
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(name).as("relationship"), col("n_child"), col("n_orphans"))
    }
    Seq(
      audit("lineitem->orders", li, "l_orderkey", ord, "o_orderkey"),
      audit("lineitem->part", li, "l_partkey", part, "p_partkey"),
      audit("lineitem->supplier", li, "l_suppkey", supp, "s_suppkey"),
      audit("orders->customer", ord, "o_custkey", cust, "c_custkey"),
      audit("customer->nation", cust, "c_nationkey", nat, "n_nationkey"))
      .reduce(_ union _)
  }

  private[queries] val q46Sql =
    """SELECT 'lineitem->orders' AS relationship, count(*) AS n_child,
      |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
      |FROM lineitem
      |UNION ALL
      |SELECT 'lineitem->part', count(*),
      |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |    (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
      |FROM lineitem
      |UNION ALL
      |SELECT 'lineitem->supplier', count(*),
      |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |    (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
      |FROM lineitem
      |UNION ALL
      |SELECT 'orders->customer', count(*),
      |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
      |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |FROM orders
      |UNION ALL
      |SELECT 'customer->nation', count(*),
      |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
      |    (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
      |FROM customer""".stripMargin

  // ---------------------------------------------------------------------------
  // q47 — item-item co-purchase similarity (market-basket CF): parts scored
  // by cosine over shared orders, co / sqrt(n_a * n_b). Pair generation is
  // the per-basket self-join on l_orderkey — bounded by basket size (TPC-H
  // caps at 7 lines/order; a retail basket is O(10)), so the pair count is
  // O(|orders| * basket^2), never parts x parts. Top 100 cut by the exact
  // integer co-count with id tiebreaks (TakeOrderedAndProject — no global
  // sort materializes); cosine is two correctly-rounded IEEE ops on exact
  // integers, bitwise on any engine.
  // ---------------------------------------------------------------------------
  /** One row per basket: (ok, ps = set of distinct partkeys). The shared
    * first shuffle of the whole co-purchase family — collect_set dedupes
    * exactly like the former DISTINCT projection, map-side-partially, in
    * ONE orderkey-keyed exchange. Baskets are bounded (TPC-H caps at 7
    * lines/order; a retail basket is O(10)), so the arrays are tiny at any
    * corpus size. */
  private[queries] def basketSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("ok"))
      .agg(collect_set(col("l_partkey")).as("ps"))

  /** (part_a, part_b, co-order count) with a<b — the co-purchase edge set
    * consumed PAIRS-ONLY by the graph loops (q49 communities, q52 khop).
    * Pairs are generated LOCALLY inside each basket row (a higher-order
    * transform over the bounded set — order-invariant, since it emits every
    * x<y combination regardless of array layout), replacing the former
    * ok-keyed self-join: two shuffles end to end (orderkey agg, pair agg).
    *
    * q47/q51 deliberately do NOT use this shape: they also need per-part
    * basket counts, and deriving those from basketSets pays the collect_set
    * MERGE aggregation twice (the counts branch carries an optimizer-
    * inferred size(ps)>0 filter the pair branch lacks, so the subtrees stop
    * canonicalizing equal and exchange reuse cannot collapse them — and
    * ObjectHashAggregate's tiny sort-fallback threshold makes each merge
    * expensive at |orders| groups). Measured at sf1: q47 on this shape
    * 6.4 s vs 2.2 s on the distinct-self-join below — a local-only "win"
    * that regresses 3x at 10x data, exactly the class this round excludes.
    * The graph consumers have no counts side, so for them the collapse to
    * two shuffles is a pure win at both SFs (q49 4.26 -> 3.88 isolated at
    * sf0.1, flat at sf1; q52 better at both). */
  private[queries] def basketPairs(spark: SparkSession, dir: String): DataFrame =
    basketSets(spark, dir)
      .select(explode(expr(
        """flatten(transform(ps,
          |  x -> transform(filter(ps, y -> y > x),
          |       y -> struct(x AS part_a, y AS part_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .agg(count(lit(1)).as("co"))

  /** The distinct-(ok, pk) projection + ok-keyed self-join pair derivation —
    * the shape for consumers that ALSO aggregate per-part counts from the
    * same distinct projection: one distinct exchange feeds the join's both
    * sides and the counts aggregation through runtime exchange reuse. */
  private def basketPairsViaJoin(li: DataFrame): DataFrame =
    li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
      .agg(count(lit(1)).as("co"))

  def q47CoPurchase(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val counts = li.groupBy("pk").agg(count(lit(1)).as("n"))
    basketPairsViaJoin(li)
      .join(counts.select(col("pk").as("part_a"), col("n").as("na")), "part_a")
      .join(counts.select(col("pk").as("part_b"), col("n").as("nb")), "part_b")
      .select(col("part_a"), col("part_b"), col("co"),
        (col("co").cast("double") / sqrt((col("na") * col("nb")).cast("double")))
          .as("cosine"))
      .orderBy(col("co").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  private[queries] val q47Sql =
    """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |c AS (SELECT pk, count(*) AS n FROM b GROUP BY 1),
      |p AS (
      |  SELECT a.pk AS part_a, b2.pk AS part_b, count(*) AS co
      |  FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
      |  GROUP BY 1, 2)
      |SELECT part_a, part_b, co,
      |  CAST(co AS DOUBLE) / sqrt(CAST(ca.n * cb.n AS DOUBLE)) AS cosine
      |FROM p
      |JOIN c ca ON part_a = ca.pk
      |JOIN c cb ON part_b = cb.pk
      |ORDER BY co DESC, part_a, part_b LIMIT 100""".stripMargin

  // ---------------------------------------------------------------------------
  // q48 — robust outlier audit per event_type: lower-median and MAD over
  // exact value-cents, outlier = deviation > 3 * MAD. Medians come from the
  // VALUE HISTOGRAM (groupBy (type, cents) then a cumulative walk over the
  // distinct-value rows), not a per-type row sort: the histogram is bounded
  // by the value domain (~10^5 distinct cents), so the per-type window scans
  // domain-sized input no matter how many trillion rows feed it — the shape
  // that survives a hot event_type at 100 TB. All arithmetic is integer.
  // ---------------------------------------------------------------------------
  /** Events projected to (event_type, exact value-cents) — q48's input and
    * the batch side of s18's plan/enforce split. */
  private[queries] def eventCents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(col("event_type"),
      (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))

  /** (event_type, cents, c) value histogram — q48/s18's single corpus pass:
    * everything downstream (median, MAD, outlier counts) is arithmetic over
    * this domain-bounded table (~|types| x |distinct cents| rows), so the
    * events table is scanned exactly once however many trillion rows feed
    * it. */
  private[queries] def eventCentsHistogram(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), col("cents")).agg(count(lit(1)).as("c"))

  /** Lower median from a (event_type, vcol, c) histogram: the value at
    * 0-based position (n-1) div 2 of the sorted multiset. */
  private def lowerMedianHist(h: DataFrame, vcol: String, out: String): DataFrame =
    h.withColumn("hi", sum(col("c")).over(
        Window.partitionBy("event_type").orderBy(vcol)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("event_type")))
      .filter(col("hi") - col("c") <= expr("(n - 1) div 2") &&
        expr("(n - 1) div 2") < col("hi"))
      .select(col("event_type"), col(vcol).as(out))

  /** Per-type (median_cents, mad_cents) from a pinned value histogram. The
    * deviation histogram is DERIVED from the value histogram (dev is a
    * per-cents function once the median is known; counts re-key by sum) —
    * no second pass over the events. */
  private[queries] def madPlanFromHist(h: DataFrame): DataFrame = {
    val med = lowerMedianHist(h, "cents", "median_cents")
    val devH = h.join(broadcast(med), "event_type")
      .groupBy(col("event_type"),
        abs(col("cents") - col("median_cents")).as("dev"))
      .agg(sum(col("c")).as("c"))
    val mad = lowerMedianHist(devH, "dev", "mad_cents")
    med.join(mad, "event_type")
  }

  /** Per-type (median_cents, mad_cents) from the value histogram — the
    * robust-center PLAN table (tiny: one row per event_type). */
  private[queries] def madPlan(ev: DataFrame): DataFrame =
    madPlanFromHist(eventCentsHistogram(ev).localCheckpoint())

  def q48MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    // one corpus pass: the histogram subtree feeds the plan AND the outlier
    // census (outliers re-key histogram counts, never re-scan events); all
    // three consumers share one identical aggregation exchange inside one
    // action, so runtime exchange reuse computes the events scan once —
    // no pin needed
    val h = eventCentsHistogram(eventCents(spark, dir))
    val plan = madPlanFromHist(h)
    h.join(broadcast(plan), "event_type")
      .withColumn("dev", abs(col("cents") - col("median_cents")))
      .groupBy("event_type")
      .agg(sum(col("c")).as("n_rows"),
        min(col("median_cents")).as("median_cents"),
        min(col("mad_cents")).as("mad_cents"),
        sum(when(col("dev") > lit(3) * col("mad_cents"), col("c")).otherwise(0L))
          .as("n_outliers"))
  }

  private[queries] val q48Sql =
    """WITH v AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |h AS (SELECT event_type, cents, count(*) AS c FROM v GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, cents, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS hi,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM h),
      |med AS (
      |  SELECT event_type, cents AS median_cents FROM cum
      |  WHERE hi - c <= (n - 1) // 2 AND (n - 1) // 2 < hi),
      |d AS (
      |  SELECT v.event_type, v.cents, m.median_cents,
      |    abs(v.cents - m.median_cents) AS dev
      |  FROM v JOIN med m USING (event_type)),
      |hd AS (SELECT event_type, dev, count(*) AS c FROM d GROUP BY 1, 2),
      |cumd AS (
      |  SELECT event_type, dev, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY dev) AS hi,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM hd),
      |mad AS (
      |  SELECT event_type, dev AS mad_cents FROM cumd
      |  WHERE hi - c <= (n - 1) // 2 AND (n - 1) // 2 < hi)
      |SELECT d.event_type, count(*) AS n_rows,
      |  min(d.median_cents) AS median_cents,
      |  min(a.mad_cents) AS mad_cents,
      |  CAST(sum(CASE WHEN d.dev > 3 * a.mad_cents THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM d JOIN mad a USING (event_type)
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // q49 — co-purchase communities: 2 rounds of synchronous weighted label
  // propagation over q47's basket-pair graph. Communities come out FINER
  // than connected components (weak bridges don't merge groups), which is
  // what a product-affinity grouping wants. The vote is a plain
  // map-side-combinable max(struct(weight_sum, -label)) aggregate — no
  // per-node window sort — so a hub part's votes partial-aggregate before
  // the shuffle; the oracle unrolls both iterations with the identical
  // (s DESC, label ASC) argmax. Exact integers throughout.
  // ---------------------------------------------------------------------------
  private val lpaIters = 2

  def q49Communities(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Cluster.labelPropagation(
        basketPairs(spark, dir), iters = lpaIters,
        // basketPairs aggregates on (part_a, part_b) with part_a < part_b, so
        // each unordered pair appears once, as labelPropagation requires
        aCol = "part_a", bCol = "part_b", wCol = "co")
      .select(col("node").as("part"), col("label").as("community"))

  private[queries] val q49Sql =
    """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |p AS (
      |  SELECT a.pk AS pa, b2.pk AS pb, count(*) AS w
      |  FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
      |  GROUP BY 1, 2),
      |e AS (SELECT pa AS u, pb AS v, w FROM p
      |      UNION ALL SELECT pb, pa, w FROM p),
      |l0 AS (SELECT DISTINCT u AS node, u AS label FROM e),
      |v1 AS (
      |  SELECT e.u, l.label, sum(e.w) AS s
      |  FROM e JOIN l0 l ON l.node = e.v GROUP BY 1, 2),
      |l1 AS (
      |  SELECT u AS node, label FROM (
      |    SELECT u, label,
      |      row_number() OVER (PARTITION BY u ORDER BY s DESC, label) AS rn
      |    FROM v1) WHERE rn = 1),
      |v2 AS (
      |  SELECT e.u, l.label, sum(e.w) AS s
      |  FROM e JOIN l1 l ON l.node = e.v GROUP BY 1, 2),
      |l2 AS (
      |  SELECT u AS node, label FROM (
      |    SELECT u, label,
      |      row_number() OVER (PARTITION BY u ORDER BY s DESC, label) AS rn
      |    FROM v2) WHERE rn = 1)
      |SELECT node AS part, label AS community FROM l2""".stripMargin

  // ---------------------------------------------------------------------------
  // q50 — SCD Type 2 dimension build: each user's value band (log2 cents —
  // exact bit-length buckets) collapsed into validity intervals
  // [valid_from, valid_to) with an is_current marker — the
  // change-data-capture shape every warehouse dimension load produces.
  // Change detection and interval closing are per-user windows: partitioned
  // by the natural key, bounded by one user's history, no global sort
  // anywhere — the embarrassingly parallel case a 100 TB dimension build
  // needs. All derivations are integers and raw timestamps.
  // ---------------------------------------------------------------------------
  def q50Scd2(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), col("ts"), col("event_id"),
      length(bin((col("value").cast("decimal(12,2)") * 100).cast("long")))
        .cast("long").as("band"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val marked = ev.withColumn("chg",
      when(lag(col("band"), 1).over(w).isNull ||
        lag(col("band"), 1).over(w) =!= col("band"), 1L).otherwise(0L))
    val seg = marked.withColumn("seg", sum(col("chg")).over(w))
    val segs = seg.groupBy("user_id", "seg")
      .agg(min(col("band")).as("band"), min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val w2 = Window.partitionBy("user_id").orderBy("seg")
    segs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull.cast("int"))
      .select(col("user_id"), col("seg"), col("band"), col("valid_from"),
        col("valid_to"), col("n_events"), col("is_current"))
  }

  private[queries] val q50Sql =
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    length(bin(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))) AS band
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN lag(band) OVER w IS NULL
      |                   OR lag(band) OVER w <> band THEN 1 ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seg
      |  FROM m),
      |g AS (
      |  SELECT user_id, seg, min(band) AS band, min(ts) AS valid_from,
      |    count(*) AS n_events
      |  FROM s GROUP BY 1, 2)
      |SELECT user_id, CAST(seg AS BIGINT) AS seg, band, valid_from,
      |  lead(valid_from) OVER w2 AS valid_to,
      |  CAST(n_events AS BIGINT) AS n_events,
      |  CASE WHEN lead(valid_from) OVER w2 IS NULL THEN 1 ELSE 0 END AS is_current
      |FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY seg)""".stripMargin

  // ---------------------------------------------------------------------------
  // q51 — market-basket association rules: pair support / confidence / lift
  // over order baskets. Same bounded per-basket pair generation as q47 (pairs
  // are O(|orders| * basket^2), never parts x parts); support is an exact
  // integer, confidence/lift are ONE correctly-rounded IEEE division each
  // over exact integer products (co*N < 2^53 at any plausible SF), rounded
  // to the house 6dp — bitwise on any engine. Top-200 by support with id
  // tiebreaks cuts via TakeOrderedAndProject, no global sort materializes.
  // ---------------------------------------------------------------------------
  def q51AssocRules(spark: SparkSession, dir: String): DataFrame = {
    // the distinct-projection shape, NOT basketSets: q51's counts and
    // basket-total sides reuse the one distinct exchange (see the
    // basketPairs scaladoc for the measured sf1 regression the collect_set
    // derivation pays when a counts side exists)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val counts = li.groupBy("pk").agg(count(lit(1)).as("n"))
    // basket total as a broadcast scalar INSIDE the one DAG (the oracle's
    // CROSS JOIN nb shape) — the previous eager .count() was a separate
    // action that re-scanned lineitem end to end before the query even ran
    val nb = li.select(col("ok")).distinct().agg(count(lit(1)).as("baskets"))
    basketPairsViaJoin(li)
      .filter(col("co") >= 2)
      .join(counts.select(col("pk").as("part_a"), col("n").as("na")), "part_a")
      .join(counts.select(col("pk").as("part_b"), col("n").as("nb")), "part_b")
      .crossJoin(broadcast(nb))
      .select(col("part_a"), col("part_b"), col("co").as("support"),
        round(col("co").cast("double") / col("na").cast("double"), 6).as("conf_ab"),
        round(col("co").cast("double") / col("nb").cast("double"), 6).as("conf_ba"),
        round((col("co") * col("baskets")).cast("double")
          / (col("na") * col("nb")).cast("double"), 6).as("lift"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(200)
  }

  private[queries] val q51Sql =
    """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |c AS (SELECT pk, count(*) AS n FROM b GROUP BY 1),
      |nb AS (SELECT count(DISTINCT ok) AS baskets FROM b),
      |p AS (
      |  SELECT a.pk AS part_a, b2.pk AS part_b, count(*) AS co
      |  FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
      |  GROUP BY 1, 2)
      |SELECT part_a, part_b, co AS support,
      |  round(CAST(co AS DOUBLE) / CAST(ca.n AS DOUBLE), 6) AS conf_ab,
      |  round(CAST(co AS DOUBLE) / CAST(cb.n AS DOUBLE), 6) AS conf_ba,
      |  round(CAST(co * nb.baskets AS DOUBLE)
      |    / CAST(ca.n * cb.n AS DOUBLE), 6) AS lift
      |FROM p
      |JOIN c ca ON part_a = ca.pk
      |JOIN c cb ON part_b = cb.pk
      |CROSS JOIN nb
      |WHERE co >= 2
      |ORDER BY support DESC, part_a, part_b LIMIT 200""".stripMargin

  // ---------------------------------------------------------------------------
  // q52 — k-hop reachability: minimum hop distance from a seed set (parts of
  // one brand) over the undirected co-purchase graph, capped at 3 hops —
  // the blast-radius / related-items audit. Frontier BFS as iterative
  // equi-joins with a min-distance merge per round (only the newest frontier
  // expands, so each round's join input is the frontier, not the closed
  // set); lineage cut per round like the LPA loop. Pure integers — bitwise.
  // ---------------------------------------------------------------------------
  def q52KHop(spark: SparkSession, dir: String): DataFrame = {
    // hand khop each pair in one direction and let it derive the reverse
    // from its own staged scan — pre-unioning here would double the scratch
    // write and re-run the pair aggregation once per union branch
    val edges = basketPairs(spark, dir)
      .select(col("part_a").as("src"), col("part_b").as("dst"))
    val seeds = Tables.part(spark, dir).filter(col("p_brand") === "Brand#1")
      .select(col("p_partkey").as("node"))
    graft.ext.Cluster.khopDistances(edges, seeds, maxHops = 3)
      .select(col("node").as("part"), col("dist").as("hops"))
  }

  private[queries] val q52Sql =
    """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pr AS (
      |  SELECT DISTINCT a.pk AS part_a, b2.pk AS part_b
      |  FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk),
      |e AS (
      |  SELECT part_a AS s, part_b AS d FROM pr
      |  UNION ALL SELECT part_b, part_a FROM pr),
      |d0 AS (SELECT p_partkey AS n, 0 AS dist FROM part WHERE p_brand = 'Brand#1'),
      |h1 AS (SELECT e.d AS n, 1 AS dist FROM d0 JOIN e ON e.s = d0.n),
      |a1 AS (SELECT n, min(dist) AS dist
      |       FROM (SELECT * FROM d0 UNION ALL SELECT * FROM h1) GROUP BY 1),
      |h2 AS (SELECT e.d AS n, 2 AS dist FROM a1 JOIN e ON e.s = a1.n WHERE a1.dist = 1),
      |a2 AS (SELECT n, min(dist) AS dist
      |       FROM (SELECT * FROM a1 UNION ALL SELECT * FROM h2) GROUP BY 1),
      |h3 AS (SELECT e.d AS n, 3 AS dist FROM a2 JOIN e ON e.s = a2.n WHERE a2.dist = 2),
      |a3 AS (SELECT n, min(dist) AS dist
      |       FROM (SELECT * FROM a2 UNION ALL SELECT * FROM h3) GROUP BY 1)
      |SELECT n AS part, dist AS hops FROM a3""".stripMargin

  // ---------------------------------------------------------------------------
  // q53 — last-touch marketing attribution: each purchase is credited to the
  // most recent preceding click/view by the same user within a 3-day
  // lookback, else 'direct'. The per-user history walk is ONE window pass
  // (two last-ignoring-nulls frames sharing a single user-keyed sort — no
  // self-join, no per-purchase scan-back); the time gate is pure timestamp
  // interval comparison (no epoch conversion, so NTZ vs TZ semantics can't
  // skew it). Revenue is exact-cents DECIMAL arithmetic — bitwise.
  // At 100 TB: one shuffle keyed by user_id, state bounded by the frame
  // being last-value (running scalar per partition, not a buffered frame).
  // ---------------------------------------------------------------------------
  def q53Attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val marketing = col("event_type").isin("click", "view")
    Tables.events(spark, dir)
      // both frames in ONE projection so they fuse into a single Window
      // operator (one sort, one exchange) — chained withColumn splits them
      .select(col("*"),
        last(when(marketing, col("ts")), ignoreNulls = true).over(w).as("touch_ts"),
        last(when(marketing, col("event_type")), ignoreNulls = true).over(w).as("touch_ch"))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("touch_ts").isNotNull
          && col("touch_ts") >= col("ts") - expr("INTERVAL 3 DAYS"), col("touch_ch"))
          .otherwise(lit("direct")))
      .groupBy("channel")
      .agg(count(lit(1)).as("purchases"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(col("channel"), col("purchases"),
        round(col("cents").cast("double") / lit(100.0), 2).as("total_value"))
  }

  private[queries] val q53Sql =
    """WITH t AS (
      |  SELECT event_id, ts, user_id, event_type, value,
      |    last_value(CASE WHEN event_type IN ('click', 'view') THEN ts END
      |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ts,
      |    last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END
      |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ch
      |  FROM events)
      |SELECT CASE WHEN touch_ts IS NOT NULL AND touch_ts >= ts - INTERVAL 3 DAY
      |            THEN touch_ch ELSE 'direct' END AS channel,
      |  count(*) AS purchases,
      |  round(CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS DOUBLE)
      |    / CAST(100.0 AS DOUBLE), 2) AS total_value
      |FROM t WHERE event_type = 'purchase'
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // q54 — activity gaps-and-islands: per user, the maximal runs of
  // CONSECUTIVE active calendar days (streaks) — the classic retention/
  // engagement primitive. The island key is the textbook day_number −
  // row_number trick: consecutive days share a constant difference, so the
  // whole segmentation is one user-keyed window pass over the per-user
  // DISTINCT day table (≤31 rows per user here, ≤days-of-history at scale —
  // the window input is the day census, never raw events). All integer date
  // arithmetic — bitwise.
  // ---------------------------------------------------------------------------
  def q54Streaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("grp",
        datediff(col("day"), lit("1970-01-01").cast("date")) - row_number().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("islands"), max(col("len")).as("longest_streak"),
        sum(col("len")).as("active_days"))
  }

  private[queries] val q54Sql =
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |r AS (
      |  SELECT user_id, day,
      |    (day - DATE '1970-01-01')
      |      - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM d),
      |i AS (SELECT user_id, grp, count(*) AS len FROM r GROUP BY 1, 2)
      |SELECT user_id, count(*) AS islands,
      |  CAST(max(len) AS BIGINT) AS longest_streak,
      |  CAST(sum(len) AS BIGINT) AS active_days
      |FROM i GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // q55 — RFM segmentation: every purchasing user scored 1..5 on Recency /
  // Frequency / Monetary against exact quintile thresholds, rolled up to
  // segment cells — the classic CRM partitioning of a customer base. The
  // quintile cuts use the integer inverse-CDF over each metric's VALUE
  // CENSUS (the x99 discipline: smallest value whose 5·cum ≥ q·n), so the
  // threshold tables are 1-row broadcasts and nothing user-sized ever
  // sorts; scoring is pure integer comparison (1 + #thresholds strictly
  // below). One user-keyed aggregation is the only corpus shuffle; all
  // outputs exact integers / 2dp cents — bitwise.
  // ---------------------------------------------------------------------------
  def q55Rfm(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val horizon = p.agg(max(col("day")).as("mx"))
    val users = p.groupBy("user_id")
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("freq"),
        sum(col("cents")).as("cents"))
      .crossJoin(broadcast(horizon))
      .select(col("user_id"), datediff(col("mx"), col("last_day")).cast("long").as("rec"),
        col("freq"), col("cents"))
      .localCheckpoint() // one user pass feeds three censuses and the scoring scan
    def cuts(metric: String, pfx: String): DataFrame = {
      val cen = users.groupBy(col(metric).as("v")).agg(count(lit(1)).as("c"))
      val n = cen.agg(sum(col("c")).as("n"))
      val cum = cen.crossJoin(broadcast(n))
        .withColumn("cum", sum(col("c")).over(Window.orderBy("v")))
      cum.agg(
        min(when(col("cum") * 5 >= col("n") * 1, col("v"))).as(s"${pfx}1"),
        min(when(col("cum") * 5 >= col("n") * 2, col("v"))).as(s"${pfx}2"),
        min(when(col("cum") * 5 >= col("n") * 3, col("v"))).as(s"${pfx}3"),
        min(when(col("cum") * 5 >= col("n") * 4, col("v"))).as(s"${pfx}4"))
    }
    def score(metric: String, pfx: String) =
      (lit(1) + (col(metric) > col(s"${pfx}1")).cast("int")
        + (col(metric) > col(s"${pfx}2")).cast("int")
        + (col(metric) > col(s"${pfx}3")).cast("int")
        + (col(metric) > col(s"${pfx}4")).cast("int")).as(s"${pfx}_score")
    users
      .crossJoin(broadcast(cuts("rec", "r")))
      .crossJoin(broadcast(cuts("freq", "f")))
      .crossJoin(broadcast(cuts("cents", "m")))
      .select(col("user_id"), col("cents"),
        score("rec", "r"), score("freq", "f"), score("cents", "m"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("users"),
        round(sum(col("cents")).cast("double") / lit(100.0), 2).as("monetary"))
  }

  private[queries] val q55Sql =
    """WITH p AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |mx AS (SELECT max(day) AS mx FROM p),
      |u AS (
      |  SELECT user_id,
      |    CAST(date_diff('day', max(day), (SELECT mx FROM mx)) AS BIGINT) AS rec,
      |    count(*) AS freq, CAST(sum(cents) AS BIGINT) AS cents
      |  FROM p GROUP BY 1),
      |rc AS (SELECT rec AS v, count(*) AS c FROM u GROUP BY 1),
      |rcu AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum,
      |        (SELECT CAST(sum(c) AS BIGINT) FROM rc) AS n FROM rc),
      |rt AS (SELECT min(CASE WHEN cum * 5 >= n * 1 THEN v END) AS t1,
      |       min(CASE WHEN cum * 5 >= n * 2 THEN v END) AS t2,
      |       min(CASE WHEN cum * 5 >= n * 3 THEN v END) AS t3,
      |       min(CASE WHEN cum * 5 >= n * 4 THEN v END) AS t4 FROM rcu),
      |fc AS (SELECT freq AS v, count(*) AS c FROM u GROUP BY 1),
      |fcu AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum,
      |        (SELECT CAST(sum(c) AS BIGINT) FROM fc) AS n FROM fc),
      |ft AS (SELECT min(CASE WHEN cum * 5 >= n * 1 THEN v END) AS t1,
      |       min(CASE WHEN cum * 5 >= n * 2 THEN v END) AS t2,
      |       min(CASE WHEN cum * 5 >= n * 3 THEN v END) AS t3,
      |       min(CASE WHEN cum * 5 >= n * 4 THEN v END) AS t4 FROM fcu),
      |mc AS (SELECT cents AS v, count(*) AS c FROM u GROUP BY 1),
      |mcu AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum,
      |        (SELECT CAST(sum(c) AS BIGINT) FROM mc) AS n FROM mc),
      |mt AS (SELECT min(CASE WHEN cum * 5 >= n * 1 THEN v END) AS t1,
      |       min(CASE WHEN cum * 5 >= n * 2 THEN v END) AS t2,
      |       min(CASE WHEN cum * 5 >= n * 3 THEN v END) AS t3,
      |       min(CASE WHEN cum * 5 >= n * 4 THEN v END) AS t4 FROM mcu)
      |SELECT
      |  1 + CAST(u.rec > rt.t1 AS INT) + CAST(u.rec > rt.t2 AS INT)
      |    + CAST(u.rec > rt.t3 AS INT) + CAST(u.rec > rt.t4 AS INT) AS r_score,
      |  1 + CAST(u.freq > ft.t1 AS INT) + CAST(u.freq > ft.t2 AS INT)
      |    + CAST(u.freq > ft.t3 AS INT) + CAST(u.freq > ft.t4 AS INT) AS f_score,
      |  1 + CAST(u.cents > mt.t1 AS INT) + CAST(u.cents > mt.t2 AS INT)
      |    + CAST(u.cents > mt.t3 AS INT) + CAST(u.cents > mt.t4 AS INT) AS m_score,
      |  count(*) AS users,
      |  round(CAST(CAST(sum(u.cents) AS BIGINT) AS DOUBLE) / CAST(100.0 AS DOUBLE), 2)
      |    AS monetary
      |FROM u CROSS JOIN rt CROSS JOIN ft CROSS JOIN mt
      |GROUP BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------------------
  // q56 — rolling 7-day actives (DAU / WAU / stickiness): exact sliding
  // distinct-user counts, the growth dashboard's core series. No range join
  // and no window: each (user, day) census row EXPLODES into the ≤7 trailing
  // days it covers (a broadcast of the 7-row offset table), and a second
  // distinct collapses multi-covered users — sliding distinct as two hash
  // shuffles of the census, both map-side combinable, nothing user²-sized.
  // Stickiness DAU/WAU is one final rounded division.
  // ---------------------------------------------------------------------------
  def q56RollingActives(spark: SparkSession, dir: String): DataFrame = {
    val census = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .distinct()
      .localCheckpoint() // feeds both the DAU rollup and the coverage explode
    val horizon = census.agg(max(col("day")).as("d1"))
    val offsets = spark.range(0, 7).select(col("id").as("off"))
    val wau = census.crossJoin(broadcast(offsets))
      .select(col("user_id"), (col("day") + col("off")).as("day"))
      .crossJoin(broadcast(horizon))
      .filter(col("day") <= col("d1"))
      .select("user_id", "day").distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    val dau = census.groupBy("day").agg(count(lit(1)).as("dau"))
    wau.join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"),
        round(coalesce(col("dau"), lit(0L)).cast("double")
          / col("wau").cast("double"), 6).as("stickiness"))
  }

  private[queries] val q56Sql =
    """WITH c AS (
      |  SELECT DISTINCT user_id,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
      |  FROM events),
      |h AS (SELECT max(day) AS d1 FROM c),
      |cov AS (
      |  SELECT DISTINCT user_id, day + off AS day
      |  FROM c CROSS JOIN (SELECT unnest(generate_series(CAST(0 AS BIGINT),
      |    CAST(6 AS BIGINT))) AS off) o
      |  WHERE day + off <= (SELECT d1 FROM h)),
      |w AS (SELECT day, CAST(count(*) AS BIGINT) AS wau FROM cov GROUP BY 1),
      |d AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM c GROUP BY 1)
      |SELECT w.day, CAST(coalesce(d.dau, 0) AS BIGINT) AS dau, w.wau,
      |  round(CAST(coalesce(d.dau, 0) AS DOUBLE) / CAST(w.wau AS DOUBLE), 6)
      |    AS stickiness
      |FROM w LEFT JOIN d ON d.day = w.day""".stripMargin

  // ---------------------------------------------------------------------------
  // q57 — Wilson confidence intervals on the purchase rate per day-of-week:
  // interval estimation for conversion dashboards (the Wilson score interval
  // stays inside [0,1] and behaves at small n, unlike the normal interval).
  // dow = epoch_day % 7 (pure integer — no engine-specific DOW semantics);
  // ONE (user, dow)-keyed aggregation is the only corpus shuffle, and the
  // closed-form interval is mirrored expression-for-expression in the
  // oracle, so the IEEE evaluation order is identical — bitwise.
  // ---------------------------------------------------------------------------
  def q57WilsonCi(spark: SparkSession, dir: String): DataFrame = {
    val z = lit(1.96).cast("double")
    val users = Tables.events(spark, dir)
      .select(
        pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long"), lit(7L)).as("dow"),
        col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pur"))
      .groupBy("dow", "user_id").agg(max(col("pur")).as("purchased"))
    users.groupBy("dow")
      .agg(count(lit(1)).as("n_users"), sum(col("purchased")).as("purchasers"))
      .withColumn("n", col("n_users").cast("double"))
      .withColumn("p", col("purchasers").cast("double") / col("n"))
      .withColumn("den", lit(1.0) + (z * z) / col("n"))
      .withColumn("ctr", (col("p") + (z * z) / (lit(2.0) * col("n"))) / col("den"))
      .withColumn("hw", (z * sqrt(col("p") * (lit(1.0) - col("p")) / col("n")
        + (z * z) / (lit(4.0) * col("n") * col("n")))) / col("den"))
      .select(col("dow"), col("n_users"), col("purchasers"),
        round(col("p"), 6).as("p_hat"),
        round(col("ctr") - col("hw"), 6).as("wilson_lo"),
        round(col("ctr") + col("hw"), 6).as("wilson_hi"))
  }

  private[queries] val q57Sql =
    """WITH u AS (
      |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) % 7 AS dow,
      |    user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
      |  FROM events GROUP BY 1, 2),
      |a AS (
      |  SELECT dow, CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(purchased) AS BIGINT) AS purchasers
      |  FROM u GROUP BY 1),
      |e AS (
      |  SELECT dow, n_users, purchasers,
      |    CAST(n_users AS DOUBLE) AS n,
      |    CAST(purchasers AS DOUBLE) / CAST(n_users AS DOUBLE) AS p,
      |    CAST(1.96 AS DOUBLE) AS z
      |  FROM a),
      |f AS (
      |  SELECT dow, n_users, purchasers, p,
      |    (p + (z * z) / (CAST(2.0 AS DOUBLE) * n)) / (CAST(1.0 AS DOUBLE) + (z * z) / n) AS ctr,
      |    (z * sqrt(p * (CAST(1.0 AS DOUBLE) - p) / n
      |       + (z * z) / (CAST(4.0 AS DOUBLE) * n * n)))
      |      / (CAST(1.0 AS DOUBLE) + (z * z) / n) AS hw
      |  FROM e)
      |SELECT dow, n_users, purchasers, round(p, 6) AS p_hat,
      |  round(ctr - hw, 6) AS wilson_lo, round(ctr + hw, 6) AS wilson_hi
      |FROM f""".stripMargin

  // ---------------------------------------------------------------------------
  // q58 — point-in-time feature join: every purchase event attributed to the
  // SCD2 band that was valid AT its timestamp (the training-data classic —
  // features must reflect state as-of the label event, never the future),
  // rolled up per band. The lookup runs through the native as-of MERGE JOIN
  // exec (one key shuffle + linear merge — no range join, no per-row probe);
  // non-strict with seg as the tie-break, which on a gapless SCD2 chain is
  // exactly interval containment (an empty [t,t) segment can never win
  // because the later segment at the same instant has the larger seg). The
  // oracle states the SAME semantics declaratively as a range predicate.
  // ---------------------------------------------------------------------------
  def q58PitJoin(spark: SparkSession, dir: String): DataFrame = {
    val scd = q50Scd2(spark, dir)
      .select(col("user_id"), col("seg"), col("band"), col("valid_from"))
    val p = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
    graft.plans.AsOfMergeJoin.asOfLeft(
        p, scd, keys = Seq("user_id"), leftTime = "ts", rightTime = "valid_from",
        payload = Seq("band", "seg"), strict = false, tieBreak = Seq("seg"))
      .groupBy("band")
      .agg(count(lit(1)).as("purchases"),
        countDistinct(col("user_id")).as("users"),
        round(sum(col("cents")).cast("double") / lit(100.0), 2).as("amount"))
  }

  private[queries] val q58Sql =
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    length(bin(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))) AS band
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN lag(band) OVER w IS NULL
      |                   OR lag(band) OVER w <> band THEN 1 ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seg
      |  FROM m),
      |g AS (
      |  SELECT user_id, seg, min(band) AS band, min(ts) AS valid_from
      |  FROM s GROUP BY 1, 2),
      |scd AS (
      |  SELECT user_id, band, valid_from,
      |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg) AS valid_to
      |  FROM g),
      |p AS (
      |  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT sc.band, p.user_id, p.cents
      |  FROM p JOIN scd sc
      |    ON sc.user_id = p.user_id AND sc.valid_from <= p.ts
      |    AND (sc.valid_to IS NULL OR p.ts < sc.valid_to))
      |SELECT band, CAST(count(*) AS BIGINT) AS purchases,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS users,
      |  round(CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / CAST(100.0 AS DOUBLE), 2)
      |    AS amount
      |FROM j GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // q59 — conversion latency: seconds from each user's FIRST view to their
  // first purchase at-or-after it, summarized as exact p50/p90/p99 via the
  // integer inverse-CDF over the LAG CENSUS (the x99/q55 discipline — the
  // percentile sweep never sorts anything user-sized) plus an exact-integer
  // mean. Two user-keyed aggregations and one user-keyed join are the only
  // corpus-scale stages; the census window is |distinct lags|-bounded.
  // ---------------------------------------------------------------------------
  def q59ConversionLag(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val fv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("v0"))
    val lag = ev.filter(col("event_type") === "purchase")
      .join(fv, "user_id")
      .filter(col("us") >= col("v0"))
      .groupBy("user_id", "v0").agg(min(col("us")).as("p0"))
      .select(expr("(p0 - v0) div 1000000L").as("lag_s"))
    val census = lag.groupBy("lag_s").agg(count(lit(1)).as("c"))
    val n = census.agg(sum(col("c")).as("n"), sum(col("lag_s") * col("c")).as("tot"))
    val cum = census.crossJoin(broadcast(n))
      .withColumn("cum", sum(col("c")).over(Window.orderBy("lag_s")))
    cum.agg(
      max(col("n")).as("n_converters"),
      min(when(col("cum") * 100 >= col("n") * 50, col("lag_s"))).as("p50_s"),
      min(when(col("cum") * 100 >= col("n") * 90, col("lag_s"))).as("p90_s"),
      min(when(col("cum") * 100 >= col("n") * 99, col("lag_s"))).as("p99_s"),
      max(round(col("tot").cast("double") / col("n").cast("double"), 6)).as("mean_s"))
  }

  private[queries] val q59Sql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |fv AS (
      |  SELECT user_id, min(us) AS v0 FROM e WHERE event_type = 'view' GROUP BY 1),
      |lag AS (
      |  SELECT (min(e.us) - fv.v0) // 1000000 AS lag_s
      |  FROM e JOIN fv ON e.user_id = fv.user_id
      |  WHERE e.event_type = 'purchase' AND e.us >= fv.v0
      |  GROUP BY e.user_id, fv.v0),
      |c AS (SELECT lag_s, CAST(count(*) AS BIGINT) AS c FROM lag GROUP BY 1),
      |t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
      |             CAST(sum(lag_s * c) AS BIGINT) AS tot FROM c),
      |cu AS (
      |  SELECT lag_s, CAST(sum(c) OVER (ORDER BY lag_s) AS BIGINT) AS cum,
      |    (SELECT n FROM t) AS n, (SELECT tot FROM t) AS tot
      |  FROM c)
      |SELECT max(n) AS n_converters,
      |  min(CASE WHEN cum * 100 >= n * 50 THEN lag_s END) AS p50_s,
      |  min(CASE WHEN cum * 100 >= n * 90 THEN lag_s END) AS p90_s,
      |  min(CASE WHEN cum * 100 >= n * 99 THEN lag_s END) AS p99_s,
      |  max(round(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE), 6)) AS mean_s
      |FROM cu""".stripMargin

  // ---------------------------------------------------------------------------
  // q60 — shipping-delay SLA profile: days from order date to line-item ship
  // date, exact p50/p90/p99 + mean per order priority. ONE orderkey-keyed
  // join (the same shuffle every TPC-H-shape query pays) builds the integer
  // day-diff stream; the percentile sweep is the integer inverse-CDF over
  // the (priority, delay) CENSUS — nothing row-sized ever sorts, windows
  // run on |priorities|·|distinct delays| rows.
  // ---------------------------------------------------------------------------
  def q60ShipDelay(spark: SparkSession, dir: String): DataFrame = {
    val census = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey").as("ok"), col("o_orderdate"),
          col("o_orderpriority").as("priority")), Seq("ok"))
      .select(col("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("delay"))
      .groupBy("priority", "delay").agg(count(lit(1)).as("c"))
    val tot = census.groupBy("priority")
      .agg(sum(col("c")).as("n"), sum(col("delay") * col("c")).as("totd"))
    census.join(broadcast(tot), "priority")
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy("priority").orderBy("delay")))
      .groupBy("priority")
      .agg(max(col("n")).as("n_items"),
        min(when(col("cum") * 100 >= col("n") * 50, col("delay"))).as("p50_d"),
        min(when(col("cum") * 100 >= col("n") * 90, col("delay"))).as("p90_d"),
        min(when(col("cum") * 100 >= col("n") * 99, col("delay"))).as("p99_d"),
        max(round(col("totd").cast("double") / col("n").cast("double"), 6)).as("mean_d"))
  }

  private[queries] val q60Sql =
    """WITH d AS (
      |  SELECT o.o_orderpriority AS priority,
      |    CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS delay
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |c AS (SELECT priority, delay, CAST(count(*) AS BIGINT) AS c
      |      FROM d GROUP BY 1, 2),
      |t AS (SELECT priority, CAST(sum(c) AS BIGINT) AS n,
      |        CAST(sum(delay * c) AS BIGINT) AS totd
      |      FROM c GROUP BY 1),
      |cu AS (
      |  SELECT c.priority, delay, c, n, totd,
      |    CAST(sum(c) OVER (PARTITION BY c.priority ORDER BY delay) AS BIGINT) AS cum
      |  FROM c JOIN t ON c.priority = t.priority)
      |SELECT priority, max(n) AS n_items,
      |  min(CASE WHEN cum * 100 >= n * 50 THEN delay END) AS p50_d,
      |  min(CASE WHEN cum * 100 >= n * 90 THEN delay END) AS p90_d,
      |  min(CASE WHEN cum * 100 >= n * 99 THEN delay END) AS p99_d,
      |  max(round(CAST(totd AS DOUBLE) / CAST(n AS DOUBLE), 6)) AS mean_d
      |FROM cu GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q56_rolling_actives" -> (q56RollingActives _),
    "q57_wilson_ci" -> (q57WilsonCi _),
    "q58_pit_join" -> (q58PitJoin _),
    "q59_conversion_lag" -> (q59ConversionLag _),
    "q60_ship_delay" -> (q60ShipDelay _),
    "q55_rfm" -> (q55Rfm _),
    "q53_attribution" -> (q53Attribution _),
    "q54_streaks" -> (q54Streaks _),
    "q51_assoc_rules" -> (q51AssocRules _),
    "q52_khop" -> (q52KHop _),
    "q47_copurchase" -> (q47CoPurchase _),
    "q48_mad_outliers" -> (q48MadOutliers _),
    "q49_communities" -> (q49Communities _),
    "q50_scd2" -> (q50Scd2 _),
    "q43_funnel" -> (q43Funnel _),
    "q44_pareto" -> (q44Pareto _),
    "q45_equidepth" -> (q45EquiDepth _),
    "q46_integrity" -> (q46Integrity _),
    "q1_trans_summary" -> (q1TransSummary _),
    "q2_player_summary" -> (q2PlayerSummary _),
    "q3_clamped" -> (q3Clamped _),
    "q4_rollup_month" -> (q4RollupMonth _),
    "q5_dim_enrich" -> (q5DimEnrich _),
    "q6_wma" -> (q6Wma _),
    "q7_risky" -> (q7Risky _),
    "q8_ledger_merge" -> (q8LedgerMerge _),
    "q9_ranking" -> (q9Ranking _),
    "q10_new_register" -> (q10NewRegister _),
    "q11_set_ops" -> (q11SetOps _),
    "q12_dep_count" -> (q12DepCount _),
    "q13_watermark" -> (q13Watermark _),
    "q14_slices" -> (q14Slices _),
    "q15_encodings" -> (q15Encodings _),
    "q16_anti_filter" -> (q16AntiFilter _),
    "q17_json" -> (q17Json _),
    "q18_three_way" -> (q18ThreeWay _),
    "q19_sessions" -> (q19Sessions _),
    "q20_asof" -> (q20AsOf _),
    "q21_range_join" -> (q21RangeJoin _),
    "q22_quantiles" -> (q22Quantiles _),
    "q23_distinct" -> (q23Distinct _),
    "q24_pivot" -> (q24Pivot _),
    "q25_cube" -> (q25Cube _),
    "q26_star_join" -> (q26StarJoin _),
    "q27_asof_native" -> (q27AsOfNative _),
    "q28_range_native" -> (q28RangeNative _),
    "q29_lateral" -> (q29Lateral _),
    "q30_unpivot" -> (q30Unpivot _),
    "q31_grouping_sets" -> (q31GroupingSets _),
    "q32_lead_lag" -> (q32LeadLag _),
    "q33_ntile" -> (q33Ntile _),
    "q34_running_frames" -> (q34RunningFrames _),
    "q35_approx_distinct" -> (q35ApproxDistinct _),
    "q36_intersect" -> (q36Intersect _),
    "q37_correlated_avg" -> (q37CorrelatedAvg _),
    "q38_relative_rank" -> (q38RelativeRank _),
    "q39_twap" -> (q39Twap _),
    "q40_retention" -> (q40RetentionCohorts _),
    "q41_correlation" -> (q41Correlation _),
    "q42_sliding_distinct" -> (q42SlidingDistinct _))

  val oracleSql: Map[String, String] = Map(
    "q1_trans_summary" -> q1Sql,
    "q2_player_summary" -> q2Sql,
    "q3_clamped" -> q3Sql,
    "q4_rollup_month" -> q4Sql,
    "q5_dim_enrich" -> q5Sql,
    "q6_wma" -> q6Sql,
    "q7_risky" -> q7Sql,
    "q8_ledger_merge" -> q8Sql,
    "q9_ranking" -> q9Sql,
    "q10_new_register" -> q10Sql,
    "q11_set_ops" -> q11Sql,
    "q12_dep_count" -> q12Sql,
    "q13_watermark" -> q13Sql,
    "q14_slices" -> q14Sql,
    "q15_encodings" -> q15Sql,
    "q16_anti_filter" -> q16Sql,
    "q17_json" -> q17Sql,
    "q18_three_way" -> q18Sql,
    "q19_sessions" -> q19Sql,
    "q20_asof" -> q20Sql,
    "q21_range_join" -> q21Sql,
    "q22_quantiles" -> q22Sql,
    "q23_distinct" -> q23Sql,
    "q24_pivot" -> q24Sql,
    "q25_cube" -> q25Sql,
    "q26_star_join" -> q26Sql,
    "q27_asof_native" -> q20Sql,
    "q28_range_native" -> q21Sql,
    "q29_lateral" -> q29Sql,
    "q30_unpivot" -> q30Sql,
    "q31_grouping_sets" -> q31Sql,
    "q32_lead_lag" -> q32Sql,
    "q33_ntile" -> q33Sql,
    "q34_running_frames" -> q34Sql,
    "q35_approx_distinct" -> q35Sql,
    "q36_intersect" -> q36Sql,
    "q37_correlated_avg" -> q37Sql,
    "q38_relative_rank" -> q38Sql,
    "q39_twap" -> q39Sql,
    "q40_retention" -> q40Sql,
    "q41_correlation" -> q41Sql,
    "q42_sliding_distinct" -> q42Sql,
    "q43_funnel" -> q43Sql,
    "q44_pareto" -> q44Sql,
    "q45_equidepth" -> q45Sql,
    "q47_copurchase" -> q47Sql,
    "q48_mad_outliers" -> q48Sql,
    "q49_communities" -> q49Sql,
    "q50_scd2" -> q50Sql,
    "q51_assoc_rules" -> q51Sql,
    "q52_khop" -> q52Sql,
    "q53_attribution" -> q53Sql,
    "q54_streaks" -> q54Sql,
    "q55_rfm" -> q55Sql,
    "q56_rolling_actives" -> q56Sql,
    "q57_wilson_ci" -> q57Sql,
    "q58_pit_join" -> q58Sql,
    "q59_conversion_lag" -> q59Sql,
    "q60_ship_delay" -> q60Sql,
    "q46_integrity" -> q46Sql)
}
