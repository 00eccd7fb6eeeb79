package graft.etl

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RiskCtrlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Hand-built meta rows with arithmetic simple enough to verify on paper.
  private def metaRow(name: String, country: String, bCur: Double, pCur: Double,
      netCur: Double, bWma: Double, bSd: Double, pWma: Double, pSd: Double,
      tWma: Double, tSd: Double) =
    (("P0", "S0", name, country, bCur, pCur, 0.5, netCur, bWma, pWma, bSd, pSd, tWma, tSd, 20240110))

  private val metaCols = Seq("platform", "site_code", "player_name", "country",
    "b_cur", "p_cur", "rtp_cur", "net_trans_cur", "b_wma", "p_wma", "b_wmasd",
    "p_wmasd", "net_trans_wma", "net_trans_wmasd", "summary_date")

  test("sigma: above-band values score, below-band and non-positive give 0") {
    // All wma/sd values far above the 5e6 floors so no substitution interferes.
    val meta = Seq(
      // b_cur 9e7 vs wma 8e7, sd 5e6 -> b_sigma = 2; p/net below their wma -> 0
      metaRow("a", "VND2", 9e7, -5.0, -1.0, 8e7, 5e6, 9e7, 9e7, 9e7, 9e7),
      // p_cur positive and above: p_sigma = (9e7-8e7)/5e6 = 2; net positive above:
      // trans_sigma = 2; p_trans_multi = net/p = 9e7/9e7 = 1
      metaRow("b", "VND2", 1.0, 9e7, 9e7, 9e7, 9e7, 8e7, 5e6, 8e7, 5e6))
      .toDF(metaCols: _*)
    val got = RiskCtrl.sigma(meta, SigmaFloors.player)
      .select("player_name", "b_sigma", "p_sigma", "trans_sigma", "p_trans_multi", "risk_score")
      .collect().map(r => r.getString(0) -> r).toMap

    def near(x: Double, y: Double) = math.abs(x - y) < 1e-9
    val a = got("a")
    assert(near(a.getDouble(1), 2.0))
    assert(a.getDouble(2) === 0.0) // p_cur <= 0 override
    assert(a.getDouble(3) === 0.0) // net <= 0 override
    assert(near(a.getDouble(5), 20.0)) // 2*10

    val b = got("b")
    assert(b.getDouble(1) === 0.0) // b_cur below wma
    assert(near(b.getDouble(2), 2.0))
    assert(near(b.getDouble(3), 2.0))
    assert(near(b.getDouble(4), 1.0))
    assert(near(b.getDouble(5), 2 * 50 + 2 * 25 + 1 * 100))
  }

  test("sigma floor substitution uses b-floors as condition (reference parity)") {
    // p_wma = 2e6 is ABOVE its own floor (1e6) but BELOW the b floor (5e6):
    // the reference still substitutes (condition checks b floor) with
    // p floor * rate -> p_wma becomes 1e6 * 1.0 = 1e6.
    val meta = Seq(
      metaRow("x", "VND2", 0.0, 3e6, 0.0, 9e6, 9e6, 2e6, 9e6, 9e6, 9e6))
      .toDF(metaCols: _*)
    // p_cur 3e6 >= substituted wma 1e6 -> p_sigma = (3e6-1e6)/9e6
    val got = RiskCtrl.sigma(meta, SigmaFloors.player).select("p_sigma").head.getDouble(0)
    assert(math.abs(got - (3e6 - 1e6) / 9e6) < 1e-12)
  }

  test("sigma: unmapped country nulls the floored lanes to 0 (pandas NaN parity)") {
    // pandas: country_rate is NaN -> all floored wma/sd lanes go NaN -> the
    // sigmas go NaN -> fillna(0) zeroes them BEFORE risk_score is computed,
    // so only the rate-independent p_trans_multi lane contributes: 1*100.
    val meta = Seq(metaRow("y", "XXX", 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0))
      .toDF(metaCols: _*)
    val got = RiskCtrl.sigma(meta, SigmaFloors.player)
      .select("b_sigma", "p_sigma", "trans_sigma", "risk_score").head
    assert(got.getDouble(0) === 0.0 && got.getDouble(1) === 0.0 && got.getDouble(2) === 0.0)
    assert(got.getDouble(3) === 100.0)
  }

  test("game report floors its wma with the game floors, not the player ones") {
    // Seven prior days of b = 2e7: wma 2e7, sd 0, both under the game floors
    // (5e7) -> b_sigma = (1e8 - 5e7) / 5e7 = 1. The player floors (5e6)
    // would keep the wma and floor only the sd: (1e8 - 2e7) / 5e6 = 16.
    val cols = Seq("platform", "site_code", "game_code", "country",
      "b_amount", "profit_amount", "summary_date")
    val today = Seq(("P0", "S0", "g0", "VND2", 1e8, 0.0, 20240110)).toDF(cols: _*)
    val prior = (3 to 9).map(d => ("P0", "S0", "g0", "VND2", 2e7, 0.0, 20240100 + d)).toDF(cols: _*)
    val got = RiskCtrl.gameOneDay(today, prior,
      TestData.slice("2024-01-10 00:00:00", "2024-01-11 00:00:00", "1D"))
      .select("b_sigma", "risk_score").head
    assert(got.getDouble(0) === 1.0)
    assert(got.getDouble(1) === 10.0)
  }

  test("rtp snapshot flags follow the ordered masks") {
    val ps1h = Seq(
      // (platform, site, player, game, country, b_amount, profit, date)
      ("P0", "S0", "whale", "g0", "THB", 100.0, 60000.0, 20240110),   // unconditional
      ("P0", "S0", "edge", "g0", "THB", 100000.0, 10000.0, 20240110), // base: needs count>=10
      ("P0", "S0", "quiet", "g0", "THB", 100.0, 1.0, 20240110))
      .toDF("platform", "site_code", "player_name", "game_code", "country",
        "b_amount", "profit_amount", "summary_date")
    val snap = RiskCtrl.rtpSnapshot(ps1h, TestData.slice("2024-01-10 00:00:00", "2024-01-11 00:00:00", "1D"))
    val got = snap.select("player_name", "is_risky").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // whale: p_cur=60000 >= 50000 -> risky despite b_count=1
    // edge: b_count=1 < 10 -> not risky (base rule needs the count)
    assert(got === Map("whale" -> 1, "edge" -> 0, "quiet" -> 0))
  }

  test("rtp ledger: init, cooldown suppression, cap, and count bump across merges") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-10 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-10 10:00:30")  // 30s later: inside cooldown
    val t2 = java.sql.Timestamp.valueOf("2024-01-10 10:05:00")  // past cooldown

    def snapWith(profit: Double) = RiskCtrl.rtpSnapshot(
      Seq(("P0", "S0", "p1", "g0", "THB", 100.0, profit, 20240110))
        .toDF("platform", "site_code", "player_name", "game_code", "country",
          "b_amount", "profit_amount", "summary_date"),
      TestData.slice("2024-01-10 00:00:00", "2024-01-11 00:00:00", "1D"))

    val empty = spark.emptyDataFrame
    // first run: ledger initialized, no throttling applied yet
    val l0 = RiskCtrl.rtpLedgerMerge(empty, snapWith(60000.0), t0)
    val r0 = l0.head
    assert(r0.getAs[Int]("alert_count") === 0)
    assert(r0.getAs[java.sql.Timestamp]("last_alert_time").toString.startsWith("1970-01-01"))

    // second run 30s later: epoch last_alert -> cooldown passed -> alert fires,
    // count bumps, stamp updates
    val l1 = RiskCtrl.rtpLedgerMerge(l0, snapWith(60000.0), t1)
    val r1 = l1.head
    assert(r1.getAs[Int]("send_alert") === 1)
    assert(r1.getAs[Int]("alert_count") === 1)
    assert(r1.getAs[java.sql.Timestamp]("last_alert_time") === t1)

    // third run 30s after the stamp: inside the 1-minute cooldown -> suppressed
    val l2 = RiskCtrl.rtpLedgerMerge(l1, snapWith(60000.0), java.sql.Timestamp.valueOf("2024-01-10 10:00:55"))
    assert(l2.head.getAs[Int]("send_alert") === 0)
    assert(l2.head.getAs[Int]("alert_count") === 1)

    // past cooldown again -> fires; then a non-risky snapshot resets state
    val l3 = RiskCtrl.rtpLedgerMerge(l2, snapWith(60000.0), t2)
    assert(l3.head.getAs[Int]("alert_count") === 2)
    val l4 = RiskCtrl.rtpLedgerMerge(l3, snapWith(1.0), java.sql.Timestamp.valueOf("2024-01-10 10:10:00"))
    val r4 = l4.head
    assert(r4.getAs[Int]("is_risky") === 0)
    assert(r4.getAs[Int]("alert_count") === 0)
    assert(r4.getAs[java.sql.Timestamp]("last_alert_time").toString.startsWith("1970-01-01"))
  }

  test("rtp ledger: alert cap stops alerts at the limit") {
    val base = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    def snap = RiskCtrl.rtpSnapshot(
      Seq(("P0", "S0", "p1", "g0", "THB", 100.0, 60000.0, 20240110))
        .toDF("platform", "site_code", "player_name", "game_code", "country",
          "b_amount", "profit_amount", "summary_date"),
      TestData.slice("2024-01-10 00:00:00", "2024-01-11 00:00:00", "1D"))
    var ledger = RiskCtrl.rtpLedgerMerge(spark.emptyDataFrame, snap, base)
    for (i <- 1 to 7) {
      val now = java.sql.Timestamp.valueOf(s"2024-01-10 0$i:00:00")
      ledger = RiskCtrl.rtpLedgerMerge(ledger, snap, now).cache()
    }
    val r = ledger.head
    assert(r.getAs[Int]("alert_count") === 5)   // capped at alert_limit
    assert(r.getAs[Int]("send_alert") === 0)    // no more alerts past the cap
  }

  test("player meta + sigma end-to-end on fixture-derived rollups") {
    // Build 1h/1d tiers from the fixture-derived logs for a small window.
    val plog = TestData.profitLog(spark)
    val vlog = TestData.valueLog(spark)
    val sites = TestData.gameSites(spark)
    val days = (1 to 9).map(d => f"2024-01-$d%02d")
    val ps1h = days.map(d => PlayerSummary.oneHour(
      PlayerSummary.fiveMin(plog, sites, TestData.slice(s"$d 00:00:00", s"$d 01:00:00")),
      TestData.slice(s"$d 00:00:00", s"$d 01:00:00", "1H"))).reduce(_ unionByName _).cache()
    val ps1d = days.map(d => PlayerSummary.oneDay(
      ps1h.filter(col("summary_date") === d.replace("-", "").toInt),
      TestData.slice(s"$d 00:00:00", s"$d 01:00:00", "1D"))).reduce(_ unionByName _).cache()
    val ts1h = days.map(d => TransSummary.oneHour(
      TransSummary.fiveMin(vlog, TestData.slice(s"$d 00:00:00", s"$d 01:00:00")),
      TestData.slice(s"$d 00:00:00", s"$d 01:00:00", "1H"))).reduce(_ unionByName _).cache()
    val ts1d = days.map(d => TransSummary.oneDay(
      ts1h.filter(col("summary_date") === d.replace("-", "").toInt),
      TestData.slice(s"$d 00:00:00", s"$d 01:00:00", "1D"))).reduce(_ unionByName _).cache()

    val slice = TestData.slice("2024-01-09 00:00:00", "2024-01-10 00:00:00", "1D")
    val report = RiskCtrl.playerOneDay(ps1h, ts1h, ps1d, ts1d, slice).cache()
    assert(report.count() > 0)
    // every key in today's 1h tier appears exactly once
    assert(report.groupBy("platform", "site_code", "player_name", "country")
      .count().filter(col("count") > 1).isEmpty)
    // no nulls anywhere (the fillna(0) parity)
    val nullCounts = report.select(report.columns.map(c =>
      sum(col(c).isNull.cast("int")).as(c)): _*).head
    assert(nullCounts.toSeq.map(_.asInstanceOf[Long]).sum === 0)
    // game grain variant also runs
    val game = RiskCtrl.gameOneDay(ps1h, ps1d, slice)
    assert(game.count() > 0)
    assert(game.columns.contains("risk_score"))
  }
}
