package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Watermarked streaming form of the e14/e15 transition family
  * (`EventOps.transitionStats`): per-user consecutive event pairs
  * emitted from an event stream via `transformWithState` — the
  * bounded-state analog of the reference's complete-mode-forever
  * aggregation (SURVEY §2.5 ST3).
  *
  * State per user is ONE row: the latest (ts, event_id, event_type)
  * seen. Each micro-batch sorts its own slice of a user's events by
  * (ts, event_id) — the batch `lead()` window's exact order — chains it
  * onto the remembered last event, and emits one (from_type, to_type,
  * gap_us) row per consecutive pair. Equality contract (asserted in
  * StreamingExtrasSpec): when each user's events arrive in event-time
  * order ACROSS micro-batches (an ordered ingest log; within a batch
  * order is free, we sort), the union of emitted pairs over any batch
  * partitioning equals the batch `transitionStats` input bit for bit.
  * A cross-batch straggler older than the remembered last event is
  * DROPPED — the streaming trade the watermark bounds; it can only
  * under-count, never mis-pair.
  *
  * Eviction is an explicit EVENT-TIME TIMER (registerTimer /
  * handleExpiredTimer — the timer half of the API, which
  * [[StreamingLru]]'s timerless door does not reach): once the
  * watermark passes a user's last event plus the horizon, their state
  * is dropped, so an idle user's final event never becomes a `from` —
  * exactly the batch semantics, where `lead()` is null on the last
  * row. The spec checks that a user idle past the horizon re-seeds
  * WITHOUT emitting the cross-gap pair, while a live user's arrival
  * pairs.
  *
  * Timer discipline: exactly one live timer per user — each update
  * deletes the previous timer before registering the new horizon
  * (registerTimer ACCUMULATES otherwise and a stale early timer would
  * evict a still-live user); the old timer's expiry is carried in
  * state (listTimers would re-scan).
  *
  * Scale shape: state = one (ts, id, type) row + one timer per user
  * live inside the horizon — |active users|, never |events|; RocksDB
  * state store, versioned per batch (the exactly-once half).
  */
object StreamTransitions {

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
      event_id: Long, event_type: String)
  final case class Transition(user_id: Long, from_type: String, to_type: String,
      gap_us: Long)

  /** The remembered last event plus its registered timer's expiry
    * (to delete it before re-registering).
    */
  final case class LastEvent(tsUs: Long, eventId: Long, tpe: String,
      timerMs: Long)

  private class TransitionProcessor(horizonMs: Long)
      extends StatefulProcessor[Long, Ev, Transition] {
    @transient private var st: ValueState[LastEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[LastEvent](
        "last", Encoders.product[LastEvent], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[Transition] = {
      val sorted = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      val last = if (st.exists()) Some(st.get()) else None
      val fresh = sorted.filter(e => last.forall(l =>
        e.ts_us > l.tsUs || (e.ts_us == l.tsUs && e.event_id > l.eventId)))
      val chainTypes = last.map(l => (l.tsUs, l.tpe)).toSeq ++
        fresh.map(e => (e.ts_us, e.event_type))
      val out = chainTypes.sliding(2).collect {
        case Seq((fromUs, fromTpe), (toUs, toTpe)) =>
          Transition(user, fromTpe, toTpe, toUs - fromUs)
      }.toVector
      fresh.lastOption.foreach { e =>
        last.foreach(l => getHandle.deleteTimer(l.timerMs))
        val expiry = e.ts_us / 1000 + horizonMs
        getHandle.registerTimer(expiry)
        st.update(LastEvent(e.ts_us, e.event_id, e.event_type, expiry))
      }
      out.iterator
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Transition] = {
      // Watermark passed the user's last event + horizon: the final
      // event has no successor (batch lead() = null there) — drop the
      // state, emit nothing. Stale-timer guard: only the CURRENT
      // registered timer may evict (a delete can race an in-flight
      // expiry on restart).
      if (st.exists() && st.get().timerMs == expiredTimerInfo.getExpiryTimeInMs)
        st.clear()
      Iterator.empty
    }
  }

  /** `events` is any streaming frame bearing (user_id, ts, event_id,
    * event_type); emits one appended row per detected transition.
    * NOTE: the caller must start the query inside [[Door.withRocksDb]]
    * (conf-scoping inside this builder would silently un-set before
    * the provider binds at start).
    */
  def transitions(events: DataFrame, watermark: String = "1 hour",
      horizonMs: Long = 3600000L): Dataset[Transition] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select($"user_id", $"ts",
        // cast tolerates TIMESTAMP_NTZ sources (unix_micros is
        // TIMESTAMP-strict); no-op on an instant-typed ts.
        unix_micros($"ts".cast("timestamp")).as("ts_us"),
        $"event_id", $"event_type")
      .withWatermark("ts", watermark)
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new TransitionProcessor(horizonMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
