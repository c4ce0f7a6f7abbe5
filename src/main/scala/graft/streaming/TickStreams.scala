package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming analytics over the bi5 tick source itself — the end-to-end shape
 * the connector exists for: `spark.readStream.format("bi5")` tails the
 * growing hour tree and this module turns the live ticks into bars.
 *
 * OHLC open/close use `min_by`/`max_by` keyed by `struct(ts, price)`: the
 * struct orders lexicographically, so two ticks sharing a millisecond still
 * resolve deterministically — the same rows produce the same bars in
 * streaming, batch, or any partitioning (and the batch-parity spec holds
 * exactly, not approximately).
 */
object TickStreams {

  /**
   * Tumbling OHLC bars per ticker over a (streaming or static) tick frame
   * with the bi5 schema. One shuffle on (ticker, window); with a watermarked
   * streaming input, state is bounded by the watermark horizon.
   *
   * @param ticks bi5-schema frame (`ticker, ts, ask, bid, ask_volume, ...`)
   * @param width tumbling window width, e.g. "1 minute"
   */
  def ohlcBars(ticks: DataFrame, width: String = "1 minute"): DataFrame =
    ticks
      .groupBy(col("ticker"), window(col("ts"), width).as("w"))
      .agg(
        expr("min_by(ask, struct(ts, ask))").as("open"),
        max(col("ask")).as("high"),
        min(col("ask")).as("low"),
        expr("max_by(ask, struct(ts, ask))").as("close"),
        count(lit(1)).as("n_ticks"),
        sum(col("ask_volume").cast("decimal(18,6)")).cast("double").as("volume"))
      .select(
        col("ticker"),
        unix_millis(col("w.start")).as("bar_start_ms"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_ticks"), col("volume"))

  /** Union-side row of the streaming as-of (kind 0 = tick, 1 = event). */
  final case class AsofIn(
      ticker: String, ts: java.sql.Timestamp, kind: Int, price: Double, event_id: Long)

  // state rows for asofPrices — private[streaming] (not private) because the
  // encoder's generated code must reach the constructors
  private[streaming] final case class TickBuf(t: Long, p: Double)
  private[streaming] final case class EvBuf(t: Long, id: Long)
  private[streaming] final case class AsofSt(ticks: List[TickBuf], events: List[EvBuf])

  /** One sealed match: the latest tick price at-or-before the event, null
    * when no tick preceded it. Emitted exactly once, when the watermark
    * passes the event time. */
  final case class AsofMatch(
      ticker: String, event_id: Long, ev_ms: Long,
      tick_ms: Option[Long], price: Option[Double])

  /**
   * Streaming as-of — live "price as of event time", the query the bi5 tick
   * schema exists for: every event row gets the latest tick (by `ts`, ties
   * to the largest price) at-or-before its time, per ticker. The streaming
   * twin of [[graft.operators.AsofJoin.backward]] with
   * `tieBreak = Seq("price")`, and spec-locked equal to it on closed events.
   *
   * Shape: union both streams on the (ticker, ts) axis (the same axis trick
   * as the batch operator), then one `flatMapGroupsWithState` keyed by
   * ticker. An event seals exactly when the watermark passes its time —
   * every at-or-before tick has then arrived, so the emitted match is FINAL
   * (append mode, no retraction). State is watermark-bounded: only ticks
   * newer than the watermark are retained, plus ONE anchor tick at-or-below
   * it (the carry-forward value every future event may still need); older
   * ticks can never be a best match again and are dropped.
   *
   * @param ticks  streaming bi5-schema frame (`ticker, ts, ask, ...`);
   *               `ask` is the carried price
   * @param events streaming frame (`ticker, ts, event_id`)
   * @param lateness watermark delay on the unioned event-time axis
   */
  def asofPrices(
      spark: SparkSession,
      ticks: DataFrame,
      events: DataFrame,
      lateness: String = "10 seconds"): Dataset[AsofMatch] = {
    import spark.implicits._
    val tSide = ticks.select(
      col("ticker"), col("ts"), lit(0).as("kind"),
      col("ask").as("price"), lit(-1L).as("event_id"))
    val eSide = events.select(
      col("ticker"), col("ts"), lit(1).as("kind"),
      lit(Double.NaN).as("price"), col("event_id"))
    tSide.unionByName(eSide)
      .withWatermark("ts", lateness)
      .as[AsofIn]
      .groupByKey(_.ticker)
      .flatMapGroupsWithState[AsofSt, AsofMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (ticker: String, rows: Iterator[AsofIn], state: GroupState[AsofSt]) =>
          val wm = state.getCurrentWatermarkMs()
          val st = state.getOption.getOrElse(AsofSt(Nil, Nil))
          var newTicks = List.empty[TickBuf]
          var newEvents = List.empty[EvBuf]
          rows.foreach { r =>
            if (r.kind == 0) newTicks ::= TickBuf(r.ts.getTime, r.price)
            else newEvents ::= EvBuf(r.ts.getTime, r.event_id)
          }
          // sorted by (t, price): the largest same-instant price sorts last,
          // so "latest at-or-before" tie-breaks exactly like the batch
          // operator's tieBreak = Seq("price")
          val allTicks = (st.ticks ++ newTicks).sortBy(tb => (tb.t, tb.p))
          // Seal at-or-below the watermark: Spark's stateful late-row filter
          // drops rows with ts <= wm (pinned empirically by the
          // watermark-edge spec — a tick timed exactly AT the watermark is
          // discarded as late), so once wm reaches an event's instant no
          // tick that could change its match can ever arrive.
          val (closed, open) = (st.events ++ newEvents).partition(_.t <= wm)
          val out = closed.sortBy(e => (e.t, e.id)).map { ev =>
            val m = allTicks.foldLeft(Option.empty[TickBuf]) {
              (acc, tb) => if (tb.t <= ev.t) Some(tb) else acc
            }
            AsofMatch(ticker, ev.id, ev.t, m.map(_.t), m.map(_.p))
          }
          val (stale, fresh) = allTicks.partition(_.t <= wm)
          val keep = stale.lastOption.toList ++ fresh
          if (keep.isEmpty && open.isEmpty) state.remove()
          else {
            state.update(AsofSt(keep, open))
            // wake this group when the watermark moves so pending events
            // seal even if no further rows arrive for the ticker — but ONLY
            // while events are pending: an anchor-only state re-arming
            // forever would fire a timeout invocation for every ticker ever
            // seen on every batch, scaling per-trigger work with the
            // all-time distinct-ticker count instead of the active one
            if (open.nonEmpty) state.setTimeoutTimestamp(wm + 1)
          }
          out.iterator
      }
  }
}
