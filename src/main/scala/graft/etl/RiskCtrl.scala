package graft.etl

import graft.ops.Cols._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Risk-control reports: Bollinger-style sigma scoring and the RTP alert
  * ledger. Faithful re-expression of task-executor/risk_ctrl modules including the
  * reference's deliberate quirks (SURVEY §7.4.2):
  *
  *  - the "7-day" WMA sums 8 days of data and divides by 7
  *    (risk_ctrl_player_1d.py:109-113)
  *  - MariaDB STDDEV is population sigma -> stddev_pop
  *  - the p_* and trans_* floor CONDITIONS compare against the b_* floors
  *    (risk_ctrl_player_1d.py:193-202) while replacement values use their own
  *    floors — reproduced verbatim for parity
  *  - pandas masked-assignment ordering -> explicitly ordered when-cascades.
  *
  * Scale: every input is already a daily/hourly rollup keyed on the same
  * 4-part key; the three joins co-partition on that key (no extra exchange
  * after the first shuffle), and the sigma math is pure column arithmetic
  * inside one codegen stage.
  */
object RiskCtrl {

  val playerKeys = Seq("platform", "site_code", "player_name", "country")
  val gameKeys = Seq("platform", "site_code", "game_code", "country")

  // -------------------------------------------------------------------------
  // risk_ctrl_player_1d (risk_ctrl_player_1d.py)
  // -------------------------------------------------------------------------

  /** A5/A6/A7 metadata assembly: current-day sums, net transfers, and the
    * 8-day WMA/sigma inputs, left-joined on the player key (J2). */
  def playerMeta(playerSummary1h: DataFrame, transSummary1h: DataFrame,
      playerSummary1d: DataFrame, transSummary1d: DataFrame,
      slice: TaskSlice): DataFrame = {
    val d = slice.dateInt
    val d8 = slice.dateIntBefore(8)
    val k = playerKeys.map(col)

    val current = playerSummary1h.filter(slice.gameScope)
      .filter(col("summary_date") === d)
      .groupBy(k: _*)
      .agg(
        sum(col("b_amount")).as("b_cur"),
        sum(col("profit_amount")).as("p_cur"),
        safeDiv(sum(col("profit_amount")), sum(col("b_amount"))).as("rtp_cur"))

    val currentTrans = transSummary1h.filter(slice.scope)
      .filter(col("summary_date") === d)
      .groupBy(k: _*)
      .agg(sum(col("trans_out_amount") - col("trans_in_amount")).as("net_trans_cur"))

    // A5 two-stage: per-day sums inside [d-8, d), then SUM/7 + STDDEV_POP.
    val pDay = playerSummary1d
      .filter(col("summary_date") >= d8 && col("summary_date") < d)
      .groupBy((col("summary_date") +: k): _*)
      .agg(sum(col("b_amount")).as("b_day"), sum(col("profit_amount")).as("p_day"))
    val pWma = pDay.groupBy(k: _*)
      .agg(
        (sum(col("b_day")) / 7.0).as("b_wma"),
        (sum(col("p_day")) / 7.0).as("p_wma"),
        stddev_pop(col("b_day")).as("b_wmasd"),
        stddev_pop(col("p_day")).as("p_wmasd"))

    val tDay = transSummary1d
      .filter(col("summary_date") >= d8 && col("summary_date") < d)
      .groupBy((col("summary_date") +: k): _*)
      .agg(first(col("trans_out_amount") - col("trans_in_amount")).as("net_day"))
    val tWma = tDay.groupBy(k: _*)
      .agg(
        (sum(col("net_day")) / 7.0).as("net_trans_wma"),
        stddev_pop(col("net_day")).as("net_trans_wmasd"))

    current
      .join(currentTrans, playerKeys, "left")
      .join(pWma, playerKeys, "left")
      .join(tWma, playerKeys, "left")
      .withColumn("summary_date", lit(d))
      .na.fill(0.0)
  }

  /** The sigma/risk-score block (risk_ctrl_player_1d.py:160-236), as one
    * codegen-friendly column cascade: `floors` is the report grain's
    * (`SigmaFloors.player` or `.game`); rates and weights are the
    * reference's constants. */
  def sigma(meta: DataFrame, floors: SigmaFloors, hasTrans: Boolean = true): DataFrame = {
    // F9: country -> rate lookup; unmapped countries behave like pandas NaN
    // (every product with them nulls out, then the final fill(0) applies).
    val rateMap = typedlit(CountryRates.rates)
    val rate = element_at(rateMap, col("country"))

    // Floor substitution. NOTE (reference parity, risk_ctrl_player_1d.py:193-202):
    // the CONDITION for p_* and trans_* uses the b_* floors; the REPLACEMENT
    // uses each metric's own floor.
    val bWma = when(col("b_wma") < floors.bWma, lit(floors.bWma) * rate).otherwise(col("b_wma"))
    val bWmasd = when(col("b_wmasd") < floors.bWmasd, lit(floors.bWmasd) * rate).otherwise(col("b_wmasd"))
    val pWma = when(col("p_wma") < floors.bWma, lit(floors.pWma) * rate).otherwise(col("p_wma"))
    val pWmasd = when(col("p_wmasd") < floors.bWmasd, lit(floors.pWmasd) * rate).otherwise(col("p_wmasd"))

    def sigmaOf(cur: Column, wma: Column, wmasd: Column, zeroWhenNonPos: Boolean): Column = {
      // pandas ordering: the >=wma mask assigns, then the <=0 mask overrides,
      // rows matching neither stay NaN -> 0. Encode as first-match-wins with
      // the override first.
      val base = when(cur >= wma, abs(cur - wma) / wmasd).otherwise(lit(0.0))
      if (zeroWhenNonPos) when(cur <= 0, lit(0.0)).otherwise(base) else base
    }

    val withB = sigma0(
      sigmaOf(col("b_cur"), bWma, bWmasd, zeroWhenNonPos = false)).as("b_sigma")
    val withP = sigma0(
      sigmaOf(col("p_cur"), pWma, pWmasd, zeroWhenNonPos = true)).as("p_sigma")

    val step1 = meta
      .withColumn("b_sigma", withB)
      .withColumn("p_sigma", withP)

    val step2 =
      if (hasTrans) {
        val tWma = when(col("net_trans_wma") < floors.bWma, lit(floors.transWma) * rate)
          .otherwise(col("net_trans_wma"))
        val tWmasd = when(col("net_trans_wmasd") < floors.bWmasd, lit(floors.transWmasd) * rate)
          .otherwise(col("net_trans_wmasd"))
        step1
          .withColumn("trans_sigma", sigma0(
            sigmaOf(col("net_trans_cur"), tWma, tWmasd, zeroWhenNonPos = true)))
          .withColumn("p_trans_multi", sigma0(
            when(col("net_trans_cur") > 0, safeDiv(col("net_trans_cur"), col("p_cur")))
              .otherwise(lit(0.0))))
      } else {
        step1.withColumn("trans_sigma", lit(0.0)).withColumn("p_trans_multi", lit(0.0))
      }

    val scored = step2.withColumn("risk_score",
      col("b_sigma") * RiskWeights.b + col("p_sigma") * RiskWeights.wl +
        col("trans_sigma") * RiskWeights.trans + col("p_trans_multi") * RiskWeights.pTransMulti)
    // the game-grain report has no transfer leg at all (risk_ctrl_game_1d.py
    // emits only b/p sigma columns); keep its schema faithful
    if (hasTrans) scored else scored.drop("trans_sigma", "p_trans_multi")
  }

  /** null/NaN/Inf -> 0 on a single column (pandas fillna-after-inf-replace). */
  private def sigma0(c: Column): Column =
    coalesce(nanvl(when(abs(c) === Double.PositiveInfinity, lit(Double.NaN)).otherwise(c),
      lit(0.0)), lit(0.0))

  /** Full player report for one day-slice. */
  def playerOneDay(playerSummary1h: DataFrame, transSummary1h: DataFrame,
      playerSummary1d: DataFrame, transSummary1d: DataFrame, slice: TaskSlice): DataFrame =
    sigma(playerMeta(playerSummary1h, transSummary1h, playerSummary1d, transSummary1d, slice),
      SigmaFloors.player)

  // -------------------------------------------------------------------------
  // risk_ctrl_game_1d (risk_ctrl_game_1d.py) — same shape at game grain,
  // without the transfer leg.
  // -------------------------------------------------------------------------

  def gameMeta(playerSummary1h: DataFrame, playerSummary1d: DataFrame,
      slice: TaskSlice): DataFrame = {
    val d = slice.dateInt
    val d8 = slice.dateIntBefore(8)
    val k = gameKeys.map(col)

    val current = playerSummary1h.filter(slice.gameScope)
      .filter(col("summary_date") === d)
      .groupBy(k: _*)
      .agg(
        sum(col("b_amount")).as("b_cur"),
        sum(col("profit_amount")).as("p_cur"),
        safeDiv(sum(col("profit_amount")), sum(col("b_amount"))).as("rtp_cur"))

    val day = playerSummary1d
      .filter(col("summary_date") >= d8 && col("summary_date") < d)
      .groupBy((col("summary_date") +: k): _*)
      .agg(sum(col("b_amount")).as("b_day"), sum(col("profit_amount")).as("p_day"))
    val wma = day.groupBy(k: _*)
      .agg(
        (sum(col("b_day")) / 7.0).as("b_wma"),
        (sum(col("p_day")) / 7.0).as("p_wma"),
        stddev_pop(col("b_day")).as("b_wmasd"),
        stddev_pop(col("p_day")).as("p_wmasd"))

    current.join(wma, gameKeys, "left")
      .withColumn("summary_date", lit(d))
      .na.fill(0.0)
  }

  def gameOneDay(playerSummary1h: DataFrame, playerSummary1d: DataFrame,
      slice: TaskSlice): DataFrame =
    sigma(gameMeta(playerSummary1h, playerSummary1d, slice), SigmaFloors.game, hasTrans = false)

  // -------------------------------------------------------------------------
  // risk_ctrl_rtp_1d — the stateful alert ledger (risk_ctrl_rtp_1d.py).
  // -------------------------------------------------------------------------

  val rtpKeys = Seq("platform", "site_code", "player_name", "game_code", "country")

  /** A7 snapshot at player x game grain + F1 flag cascade
    * (risk_ctrl_rtp_1d.py:77-118). */
  def rtpSnapshot(playerSummary1h: DataFrame, slice: TaskSlice): DataFrame = {
    val d = slice.dateInt
    val snap = playerSummary1h.filter(slice.gameScope)
      .filter(col("summary_date") === d)
      .groupBy(rtpKeys.map(col): _*)
      .agg(
        count(col("b_amount")).as("b_count"),
        sum(col("b_amount")).as("b_cur"),
        sum(col("profit_amount")).as("p_cur"),
        safeDiv(sum(col("profit_amount")), sum(col("b_amount"))).as("rtp_cur"))
      .withColumn("summary_date", lit(d))
      .na.fill(0.0)

    // one rule sets both flags; the ledger merge then throttles send_alert
    val risky = RtpConfig.risky(col("p_cur"), col("b_count"), col("rtp_cur"))
    snap.withColumn("is_risky", risky).withColumn("send_alert", risky)
  }

  /** J6+J7 ledger merge + alert throttling (risk_ctrl_rtp_1d.py:126-202).
    *
    * `old` is the existing ledger for the day (may be empty on first run);
    * `now` is injected for determinism (SURVEY §7.4.4 — the reference calls
    * datetime.now() inline).
    *
    * Semantics:
    *  - keys in old: metrics overwritten from the new snapshot (null when the
    *    key vanished — pandas leaves NaN); is_risky=0 resets the alert state
    *  - brand-new keys: initialized with alert_count=0, epoch last_alert_time
    *  - send_alert suppressed when inside the cooldown or past the cap;
    *    surviving alerts bump alert_count and stamp last_alert_time=now.
    */
  def rtpLedgerMerge(old: DataFrame, snapshot: DataFrame, now: java.sql.Timestamp): DataFrame = {
    val epoch = lit("1970-01-01 00:00:00").cast("timestamp")
    val nowLit = TaskSlice.stamp(now)

    if (old.isEmpty) {
      return snapshot
        .withColumn("alert_count", lit(0))
        .withColumn("last_alert_time", epoch)
        .withColumn("update_time", nowLit)
        .withColumn("create_time", nowLit)
    }

    val metrics = Seq("b_count", "b_cur", "p_cur", "rtp_cur", "is_risky", "send_alert")
    val renamed = metrics.foldLeft(snapshot)((d, c) => d.withColumnRenamed(c, c + "_new"))
      .drop("summary_date")

    // J6: overwrite metric columns from the new side (no coalesce — pandas
    // leaves NaN/null for ledger keys missing from today's snapshot).
    val updated = old.join(renamed, rtpKeys, "left")
      .select(
        (rtpKeys.map(col) :+ col("summary_date") :+
          col("alert_count") :+ col("last_alert_time") :+ col("create_time")) ++
          metrics.map(c => col(c + "_new").as(c)): _*)
      // reset alert state for non-risky rows (ordered after the overwrite)
      .withColumn("send_alert", when(col("is_risky") === 0, 0).otherwise(col("send_alert")))
      .withColumn("alert_count", when(col("is_risky") === 0, 0).otherwise(col("alert_count")))
      .withColumn("last_alert_time", when(col("is_risky") === 0, epoch).otherwise(col("last_alert_time")))

    // J7: brand-new keys (the reference's concat+drop_duplicates(keep=False)
    // — intent is an anti join of snapshot keys against the ledger).
    val appended = snapshot.join(old, rtpKeys, "left_anti")
      .withColumn("alert_count", lit(0))
      .withColumn("last_alert_time", epoch)
      .withColumn("create_time", nowLit)

    val merged = updated.unionByName(appended, allowMissingColumns = true)
      .withColumn("update_time", nowLit)

    // Alert throttling — masked-assignment order is semantic
    // (risk_ctrl_rtp_1d.py:172-194): cooldown check, then cap check, then
    // count bump, then stamp.
    val minutesSince = (unix_timestamp(nowLit) - unix_timestamp(col("last_alert_time"))) / 60.0
    merged
      .withColumn("send_alert", when(minutesSince < RtpConfig.timeToAlertMinutes, 0).otherwise(col("send_alert")))
      .withColumn("send_alert",
        when(col("send_alert") === 1 && col("alert_count") >= RtpConfig.alertLimit, 0).otherwise(col("send_alert")))
      .withColumn("alert_count", when(col("send_alert") === 1, col("alert_count") + 1).otherwise(col("alert_count")))
      .withColumn("last_alert_time", when(col("send_alert") === 1, nowLit).otherwise(col("last_alert_time")))
      .select(col("summary_date") +: rtpKeys.map(col) :+ col("b_count") :+ col("b_cur") :+
        col("p_cur") :+ col("rtp_cur") :+ col("is_risky") :+ col("send_alert") :+
        col("alert_count") :+ col("last_alert_time") :+ col("update_time") :+ col("create_time"): _*)
  }
}
