package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.streaming._

/** One arriving event at the history door: `seq` is the global arrival
  * ordinal (the StreamingLru convention — order-dependent verdicts
  * carry their order with the data).
  */
final case class HistArrival(seq: Long, user_id: Long, event_type: String)

/** The per-arrival verdict, all derived from the user's state BEFORE
  * the arrival folds in: `n_recent` = how many of the bounded recent
  * window the user had, `n_same_recent` = how many of those share the
  * arrival's type (the short-horizon repetition signal a burst/abuse
  * gate reads), `type_count` = the lifetime count of this type for
  * this user AFTER the arrival (the MapState running total).
  */
final case class HistVerdict(seq: Long, user_id: Long, event_type: String,
                             n_recent: Int, n_same_recent: Int,
                             type_count: Long)

/** Per-user bounded recent history on the typed-state surface
  * ValueState doesn't exercise: a [[ListState]] holds the user's last
  * `k` event types in arrival order (put/trim per batch — the bounded
  * window), a [[MapState]] holds lifetime per-type counts (point
  * get/update, never iterated on the hot path), and a [[ValueState]]
  * carries the per-user max-seen seq implementing the same
  * order-contract guard as [[StreamingLru]] (batches must partition
  * each user's seq order; a violation fails the query rather than
  * silently rewriting history).
  *
  * State is bounded per user by construction: k type strings + one
  * long per distinct type + one long — the constant-state argument,
  * whatever arrives.
  */
private class RecentHistoryProcessor(k: Int)
    extends StatefulProcessor[Long, HistArrival, HistVerdict] {
  @transient private var recent: ListState[String] = _
  @transient private var counts: MapState[String, Long] = _
  @transient private var maxSeq: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    recent = getHandle.getListState[String](
      "recent", Encoders.STRING, TTLConfig.NONE)
    counts = getHandle.getMapState[String, Long](
      "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    maxSeq = getHandle.getValueState[Long](
      "max_seq", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(user: Long, rows: Iterator[HistArrival],
                               timerValues: TimerValues): Iterator[HistVerdict] = {
    val sorted = rows.toSeq.sortBy(_.seq)
    val prior = if (maxSeq.exists()) maxSeq.get() else Long.MinValue
    if (sorted.nonEmpty && sorted.head.seq <= prior)
      throw new IllegalStateException(
        s"out-of-order arrival for user $user: seq ${sorted.head.seq} <= " +
          s"max seen $prior; batches must partition the seq order")
    var window = if (recent.exists()) recent.get().toVector else Vector.empty
    val out = sorted.map { a =>
      val same = window.count(_ == a.event_type)
      val n = window.size
      window = (window :+ a.event_type).takeRight(k)
      val c =
        (if (counts.containsKey(a.event_type)) counts.getValue(a.event_type)
         else 0L) + 1L
      counts.updateValue(a.event_type, c)
      HistVerdict(a.seq, user, a.event_type, n, same, c)
    }
    if (sorted.nonEmpty) {
      recent.put(window.toArray)
      maxSeq.update(sorted.last.seq)
    }
    out.iterator
  }
}

/** Streaming per-user recent-history door — the TWENTY-SIXTH, and the
  * second on Spark 4's `transformWithState`: where [[StreamingLru]]
  * exercises ValueState over ONE constant group, this door exercises
  * the other two typed-state shapes (ListState bounded window,
  * MapState point-keyed counters) over a REAL key space (per user).
  * The verdict stream is the short-horizon repetition signal an
  * ingest-abuse gate reads: "this user's 4th identical action inside
  * their last k events" is a burst, whatever the global rate.
  *
  * Exactly-once: RocksDB-versioned state per batch plus
  * [[Door.sink]]'s batch-keyed overwrite; the spec forces
  * a replay and pins identical bytes.
  */
object StreamingRecentHistory {

  /** Start the job: `events` is any streaming frame bearing
    * (seq, user_id, event_type). Verdicts land under
    * `outDir/batch_id=<n>/`. Same seq-order contract as StreamingLru,
    * enforced PER USER.
    */
  def run(events: DataFrame, k: Int,
          outDir: String, checkpointDir: String): StreamingQuery = {
    val s = events.sparkSession
    import s.implicits._
    Door.withRocksDb(s) {
      val verdicts = events
        .selectExpr("seq", "user_id", "event_type").as[HistArrival]
        .groupByKey(_.user_id)
        .transformWithState(new RecentHistoryProcessor(k),
          TimeMode.None(), OutputMode.Update())
      Door.sink(verdicts.toDF(), outDir, checkpointDir)((batch, _) => batch)
    }
  }
}
