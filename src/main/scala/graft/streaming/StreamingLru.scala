package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.streaming._

/** One arriving record at the producer door: `seq` is the arrival
  * ordinal (the reference producer processes its fetch results in
  * order — LRU verdicts are order-dependent by nature, so the order
  * travels WITH the data instead of being assumed from partitioning).
  */
final case class LruArrival(seq: Long, doc_id: Long, key: String)

/** The per-arrival verdict: `emitted` = the producer would forward
  * this record; `evicted` = the key the bounded set dropped to make
  * room (null when no eviction) — the audit trail that makes the
  * re-admission behavior visible.
  */
final case class LruVerdict(seq: Long, doc_id: Long, key: String,
                            emitted: Boolean, evicted: String)

// NOTE adding `maxSeq` changed the persisted ValueState schema: a
// checkpoint written by the one-field version fails the state-store
// schema check on restart — discard the checkpoint and replay (no
// deployed checkpoints outlive a version here), or set the state
// schema-evolution conf before resuming one.
private final case class LruSetState(keys: Seq[String], maxSeq: Long)

/** The reference producer's dedup structure, exactly: an
  * INSERTION-ORDERED capacity-bounded SET (news_producer.py:29-45,
  * 119-125 — membership is checked WITHOUT a recency refresh, since
  * `add` is only reached when the key is absent, so eviction order is
  * pure insertion order, not true LRU; a key that was evicted and
  * re-arrives is emitted AGAIN, the documented re-admission).
  */
private class LruSetProcessor(maxsize: Int)
    extends StatefulProcessor[Long, LruArrival, LruVerdict] {
  @transient private var st: ValueState[LruSetState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[LruSetState](
      "lru", Encoders.product[LruSetState], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[LruArrival],
                               timerValues: TimerValues): Iterator[LruVerdict] = {
    val prior =
      if (st.exists()) st.get() else LruSetState(Vector.empty, Long.MinValue)
    var keys = prior.keys.toVector
    // Rows arrive in partition order; the verdict contract orders by
    // the carried arrival ordinal (batch-sized sort). The sort only
    // restores order WITHIN a batch, so the run() contract requires
    // batches to partition the seq order — enforced here by carrying
    // the max seen seq in state and failing LOUDLY on a violation
    // (silently processing a late batch would make the state evolution
    // diverge from the reference producer's strict arrival-order
    // replay while every per-row verdict still looked plausible).
    // Replay of a batch is NOT a violation: the state store restores
    // the pre-batch version, so maxSeq rolls back with it.
    val sorted = rows.toSeq.sortBy(_.seq)
    if (sorted.nonEmpty && sorted.head.seq <= prior.maxSeq)
      throw new IllegalStateException(
        s"out-of-order arrival: seq ${sorted.head.seq} <= max seen " +
          s"${prior.maxSeq}; batches must partition the seq order")
    val out = sorted.map { a =>
      if (keys.contains(a.key))
        LruVerdict(a.seq, a.doc_id, a.key, emitted = false, evicted = null)
      else {
        keys = keys :+ a.key
        val ev =
          if (keys.size > maxsize) { val h = keys.head; keys = keys.tail; h }
          else null
        LruVerdict(a.seq, a.doc_id, a.key, emitted = true, evicted = ev)
      }
    }
    st.update(LruSetState(keys,
      if (sorted.nonEmpty) sorted.last.seq else prior.maxSeq))
    out.iterator
  }
}

/** Streaming producer-dedup door — the TWENTY-FIFTH, and the first on
  * Spark 4's `transformWithState` arbitrary-state API (the successor
  * to flatMapGroupsWithState, RocksDB-backed, with typed ValueState):
  * the reference producer's bounded insertion-ordered dedup set
  * (news_producer.py:29-45) run as streaming state, completing the
  * reference-parity story for the producer side beyond IngestSim's
  * watermark ANALOG — this door reproduces the exact structure:
  * capacity eviction in insertion order, membership without recency
  * refresh, re-admission after eviction.
  *
  * The set is ONE in-process structure in the reference, so the state
  * keys to a single constant group — honest semantics, and the state
  * is `maxsize` strings whatever arrives (the StreamingCms
  * constant-state argument). Exactly-once: the state store VERSIONS
  * state per batch (replay of batch n reloads version n−1 — the
  * transformWithState half) and [[Door.sink]]'s batch-keyed overwrite
  * makes the output side idempotent; the spec
  * forces a replay and pins identical bytes.
  */
object StreamingLru {

  /** Start the job: `docs` is any streaming frame bearing
    * (seq, doc_id, key). Verdict rows land under
    * `outDir/batch_id=<n>/`. transformWithState requires the RocksDB
    * state store; the provider conf is set for the query's START and
    * restored after (the provider binds at query start).
    *
    * ORDER CONTRACT: batches must partition the seq order — batch n's
    * max seq < batch n+1's min seq (any in-order source trivially
    * satisfies this; the per-batch sort restores intra-batch order).
    * A batch delivering a seq at or below the max already processed
    * fails the query rather than silently diverging from the
    * reference producer's strict arrival-order replay.
    */
  def run(docs: DataFrame, maxsize: Int,
          outDir: String, checkpointDir: String): StreamingQuery = {
    val s = docs.sparkSession
    import s.implicits._
    Door.withRocksDb(s) {
      val verdicts = docs.selectExpr("seq", "doc_id", "key").as[LruArrival]
        .groupByKey(_ => 0L)
        .transformWithState(new LruSetProcessor(maxsize),
          TimeMode.None(), OutputMode.Update())
      Door.sink(verdicts.toDF(), outDir, checkpointDir)((batch, _) => batch)
    }
  }
}
