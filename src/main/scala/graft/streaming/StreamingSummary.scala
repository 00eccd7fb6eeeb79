package graft.streaming

import graft.etl.TransSummary
import graft.ops.Cols._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming re-expression of the reference's hand-rolled
  * micro-batch system (SURVEY §2.9).
  *
  * The reference's producer turns wall-clock into 5-minute task slices and
  * the executor re-aggregates open windows until they close
  * (task-producer/utils/TaskUtils.py:53-101, trans_summary_1h.py:29-32).
  * In Spark this is a tumbling-window aggregation with a watermark: the
  * watermark IS the "only emit slices whose lt_time <= now" rule, update mode
  * IS the "re-run while the period is open" rule, and checkpointed offsets
  * replace the task_board low-watermark scan.
  *
  * The stateful alert throttle (risk_ctrl_rtp_1d.py:168-194) becomes
  * flatMapGroupsWithState: per-key (alert_count, last_alert_time) state with
  * the same ordered cooldown -> cap -> bump -> stamp cascade as the batch
  * ledger in graft.etl.RiskCtrl.
  */
object StreamingSummary {

  /** How late an event may arrive and still count; it bounds window, dedup
    * and join state. */
  private val Watermark = "10 minutes"

  /** The trans_summary 5-min tier as a streaming aggregation. Input: a
    * STREAMING DataFrame shaped like player_value_log. Event time is
    * trade_time; late rows beyond the watermark are dropped (the batch
    * system's equivalent is the manual rerun cascade). The window() grouping
    * stays here, where the watermark needs it; the aggregates are the batch
    * tier's A1 battery. */
  def transFiveMinStream(valueLog: DataFrame, watermark: String = Watermark): DataFrame =
    valueLog
      .filter(col("trade_status") === "SUCCESS")
      .withColumn("trade_time", col("trade_time").cast("timestamp"))
      // empty watermark = the caller already declared one upstream (e.g. a
      // dedup stage); redefining it on the same column is disallowed
      .transform(d => if (watermark.isEmpty) d else d.withWatermark("trade_time", watermark))
      .groupBy((window(col("trade_time"), "5 minutes").as("slice") +:
        TransSummary.keys.map(col)): _*)
      .agg(TransSummary.battery.head, TransSummary.battery.tail: _*)
      .select(
        col("slice.start").as("start_time"),
        yyyymmdd(col("slice.start")).as("summary_date"),
        hour(col("slice.start")).as("hours"),
        minute(col("slice.start")).as("mins"),
        col("platform"), col("site_code"), col("player_name"), col("country"),
        col("trans_in_amount"), col("trans_out_amount"),
        col("trans_in_count"), col("trans_out_count"), col("trans_out_lost_amount"))

  /** Start the streaming 5-min tier writing into the report table via
    * foreachBatch + KEY-level upsert — the streaming equivalent of the
    * reference's delete-before-insert. Update mode emits only the groups a
    * micro-batch changed, so the sink must replace matching group rows
    * without wiping the slice's unchanged groups (partition-granular
    * overwrite would): `Sinks.upsertSlices` reads back just the touched
    * summary_date partitions, anti-joins on the full group key, and swaps
    * the partitions atomically. Replays after a checkpoint recovery re-upsert
    * the same keys with the same values — idempotent, so the sink is
    * effectively exactly-once end to end (asserted across a real stop/restart
    * in StreamRecoverySpec). */
  def startTransFiveMin(valueLog: DataFrame, tablePath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    transFiveMinStream(valueLog).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          graft.io.Sinks.upsertSlices(batch.toDF(), tablePath,
            partitionCols = Seq("summary_date"),
            keyCols = Seq("summary_date", "hours", "mins",
              "platform", "site_code", "player_name", "country"))
        }
      }
      .start()

  /** Exactly-once-ish ingestion: drop replayed rows by business key while
    * their event time is inside the watermark. The reference deduplicates by
    * delete-before-insert on the SINK; this removes the duplicates on the
    * SOURCE side, so at-least-once upstream delivery (log replay, producer
    * retry) cannot double-count a trade. State is bounded by the watermark —
    * keys older than it are forgotten (a replay older than the watermark is
    * the batch rerun cascade's job instead). */
  def dedupStream(log: DataFrame, keys: Seq[String], eventTimeCol: String): DataFrame =
    log
      .withColumn(eventTimeCol, col(eventTimeCol).cast("timestamp"))
      .withWatermark(eventTimeCol, Watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join: each wallet transfer paired with the same
    * player's game rounds within ±5 minutes — the "wallet movement near
    * game activity" correlation the reference computes by re-querying both
    * tables per task slice. Both sides carry watermarks and the join
    * condition bounds event-time distance, so state for either side is
    * dropped as soon as the other side's watermark passes the tolerance
    * window (bounded state, append-only output). */
  def transNearRoundsStream(trans: DataFrame, rounds: DataFrame): DataFrame = {
    val tolerance = expr("INTERVAL 5 minutes")
    val t = trans
      .filter(col("trade_status") === "SUCCESS")
      .select(
        col("platform").as("t_platform"), col("player_name").as("t_player"),
        col("trade_type"), col("value").as("trade_value"),
        col("trade_time").cast("timestamp").as("trade_time"))
      .withWatermark("trade_time", Watermark)
    val r = rounds
      .filter(col("is_robot") === 0)
      .select(
        col("platform").as("r_platform"), col("player_name").as("r_player"),
        col("game_code"), col("bet"),
        col("round_time").cast("timestamp").as("round_time"))
      .withWatermark("round_time", Watermark)
    t.join(r,
      col("t_platform") === col("r_platform") &&
        col("t_player") === col("r_player") &&
        col("round_time") >= col("trade_time") - tolerance &&
        col("round_time") <= col("trade_time") + tolerance)
      .select(
        col("t_platform").as("platform"), col("t_player").as("player_name"),
        col("trade_type"), col("trade_value"), col("trade_time"),
        col("game_code"), col("bet"), col("round_time"))
  }

  // --- stateful alert throttling ---------------------------------------------

  case class AlertInput(key: String, eventTimeMillis: Long, isRisky: Boolean)
  case class AlertState(alertCount: Int, lastAlertMillis: Long)
  case class AlertDecision(key: String, eventTimeMillis: Long, sendAlert: Boolean, alertCount: Int)

  /** The risk_ctrl_rtp_1d throttle as a state function: cooldown check, cap
    * check, count bump, stamp — same order as the batch ledger. Pure
    * (Iterator, GroupState) -> Iterator function, directly pluggable into
    * flatMapGroupsWithState and unit-testable without a stream. */
  def throttleFn(cooldownMinutes: Double, alertLimit: Int)(
      key: String, rows: Iterator[AlertInput], state: GroupState[AlertState]): Iterator[AlertDecision] = {
    var st = state.getOption.getOrElse(AlertState(0, 0L))
    val out = rows.toSeq.sortBy(_.eventTimeMillis).map { in =>
      if (!in.isRisky) {
        st = AlertState(0, 0L) // non-risky resets the ledger row
        AlertDecision(key, in.eventTimeMillis, sendAlert = false, 0)
      } else {
        val minutesSince = (in.eventTimeMillis - st.lastAlertMillis) / 60000.0
        var send = true
        if (minutesSince < cooldownMinutes) send = false          // cooldown
        if (send && st.alertCount >= alertLimit) send = false     // cap
        if (send) st = AlertState(st.alertCount + 1, in.eventTimeMillis)
        AlertDecision(key, in.eventTimeMillis, send, st.alertCount)
      }
    }
    state.update(st)
    out.iterator
  }

  /** Wire the throttle into a (streaming or batch) Dataset[AlertInput]. */
  def throttleAlerts(inputs: Dataset[AlertInput], cooldownMinutes: Double,
      alertLimit: Int): Dataset[AlertDecision] = {
    import inputs.sparkSession.implicits._
    inputs
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        throttleFn(cooldownMinutes, alertLimit))
  }

  // --- streaming as-of attribution -------------------------------------------

  case class AttrEvent(userId: Long, eventId: Long, tsMicros: Long,
      isPurchase: Boolean, value: Double)
  case class LastView(viewId: Long, tsMicros: Long, value: Double)
  case class AttrOut(purchase_id: Long, user_id: Long, purchase_ts_us: Long,
      purchase_value: Double, view_id: Option[Long], view_ts_us: Option[Long],
      view_value: Option[Double])

  /** The streaming twin of graft.ops.AsOfJoin (q20): each purchase attributed
    * to the user's latest STRICTLY earlier view, as per-key running state
    * instead of a window scan. State is ONE row per user (the last view seen)
    * — constant per key, no time-proportional buffering. Within a batch,
    * events are replayed in the same total order the batch as-of uses
    * (ts, purchase-before-view at equal ts, event_id); across batches the
    * watermark discipline delivers event time monotonically, and a
    * regression guard keeps a stale view from overwriting a newer one. */
  def attributionFn(userId: Long, rows: Iterator[AttrEvent],
      state: GroupState[LastView]): Iterator[AttrOut] = {
    var st = state.getOption
    val out = rows.toSeq
      .sortBy(e => (e.tsMicros, if (e.isPurchase) 0 else 1, e.eventId))
      .flatMap { e =>
        if (e.isPurchase)
          Some(AttrOut(e.eventId, userId, e.tsMicros, e.value,
            st.map(_.viewId), st.map(_.tsMicros), st.map(_.value)))
        else {
          if (st.forall(s => s.tsMicros < e.tsMicros ||
              (s.tsMicros == e.tsMicros && s.viewId <= e.eventId)))
            st = Some(LastView(e.eventId, e.tsMicros, e.value))
          None
        }
      }
    st.foreach(state.update)
    out.iterator
  }

  /** Wire attribution into a (streaming or batch) Dataset[AttrEvent]. */
  def attributionStream(events: Dataset[AttrEvent]): Dataset[AttrOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(attributionFn)
  }

  case class SeqEvent(userId: Long, eventId: Long, tsMicros: Long, token: String)
  case class SeqState(tokens: Seq[String], lastTsMicros: Long = Long.MinValue)
  case class SeqPair(user_id: Long, event_id: Long, context_1: String,
      context_2: String, context_3: String, target: String)

  /** Streaming twin of `graft.ext.Sequences.nextTokenPairs` (x69): the
    * (3-token context, next token) training pairs materialize INCREMENTALLY
    * as events arrive, instead of re-sorting each user's history. State per
    * user is exactly the last 3 tokens — constant per key, so at 100 TB the
    * state store holds |users| tiny rows, not the stream. Within a batch
    * rows replay in the batch formulation's (ts, event_id) order; across
    * batches the carried context makes the emitted pair set identical to
    * the batch window query, bit for bit.
    *
    * Ordering precondition: in-batch order is restored by the sort, but a
    * context already carried across a batch boundary cannot be rewound —
    * batch-bitwise equivalence needs event-time-nondecreasing arrival
    * ACROSS batches (the discipline a watermarked upstream provides). An
    * event older than the carried context is DROPPED (not silently spliced
    * after newer tokens, which would emit pairs the batch query never
    * builds); `AvailableNow` file replay and the oracle harness satisfy the
    * precondition, so nothing is dropped there. */
  def nextTokenFn(userId: Long, rows: Iterator[SeqEvent],
      state: GroupState[SeqState]): Iterator[SeqPair] = {
    val st = state.getOption.getOrElse(SeqState(Seq.empty))
    var ctx = st.tokens
    var lastTs = st.lastTsMicros
    val out = rows.toSeq.sortBy(e => (e.tsMicros, e.eventId))
      .filter(_.tsMicros >= st.lastTsMicros) // stale vs carried state: drop, don't splice
      .flatMap { e =>
        val pair =
          if (ctx.length == 3)
            Some(SeqPair(userId, e.eventId, ctx(0), ctx(1), ctx(2), e.token))
          else None
        ctx = (ctx :+ e.token).takeRight(3)
        lastTs = e.tsMicros
        pair
      }
    state.update(SeqState(ctx, lastTs))
    out.iterator
  }

  /** Wire next-token pair construction into a (streaming or batch) source. */
  def nextTokenStream(events: Dataset[SeqEvent]): Dataset[SeqPair] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(nextTokenFn)
  }

  case class FunnelEvent(userId: Long, tsMicros: Long, step: Int)
  case class FunnelState(deadlineMicros: Long, reached: Int, tLastMicros: Long)
  case class FunnelAdvance(user_id: Long, step: Int)

  /** Streaming twin of `graft.ops.Funnel` (q43): per-key funnel progress as
    * running state instead of per-step joins. State is one fixed-size row
    * per key (anchor deadline, deepest step, last matched time); each
    * step-advance is emitted EXACTLY once, so the downstream step counts
    * are a plain aggregation of the advance log. Greedy-earliest semantics
    * reproduce the batch formulation bit for bit when events arrive in
    * event-time order (in-batch replay sorts; cross-batch order is the same
    * watermark discipline every stateful op here rides). `horizonMicros`
    * anchors at the key's FIRST step-1 event.
    *
    * Ordering precondition (cross-batch): an advance-eligible event older
    * than the carried `tLastMicros` is structurally ignored by the
    * `tsMicros > tLastMicros` predicate — stale events cannot advance or
    * corrupt the funnel. The one undetectable case is a step-1 event
    * arriving in a LATER batch with an EARLIER timestamp than events
    * already seen for a still-unanchored key: the anchor lands on the
    * first step-1 event DELIVERED, which equals the batch anchor exactly
    * when arrival is event-time ordered across batches (the watermark
    * discipline of the feeding source; `AvailableNow` replay and the
    * oracle harness satisfy it). */
  def funnelFn(horizonMicros: Long)(userId: Long, rows: Iterator[FunnelEvent],
      state: GroupState[FunnelState]): Iterator[FunnelAdvance] = {
    var st = state.getOption
    val out = rows.toSeq.sortBy(e => (e.tsMicros, e.step)).flatMap { e =>
      st match {
        case None if e.step == 1 =>
          st = Some(FunnelState(e.tsMicros + horizonMicros, 1, e.tsMicros))
          Some(FunnelAdvance(userId, 1))
        case Some(s) if e.step == s.reached + 1 &&
            e.tsMicros > s.tLastMicros && e.tsMicros < s.deadlineMicros =>
          st = Some(s.copy(reached = e.step, tLastMicros = e.tsMicros))
          Some(FunnelAdvance(userId, e.step))
        case _ => None
      }
    }
    st.foreach(state.update)
    out.iterator
  }

  /** Wire funnel tracking into a (streaming or batch) source. */
  def funnelStream(events: Dataset[FunnelEvent], horizonMicros: Long): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        funnelFn(horizonMicros))
  }
}
