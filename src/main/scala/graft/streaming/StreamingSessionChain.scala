package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming form of e44 — TWO STATEFUL OPERATORS IN ONE QUERY
  * ([[graft.ops.EventOps.sessionCloseFrame]]): a watermarked
  * session_window aggregate whose output feeds a SECOND stateful
  * tumbling-hour aggregate (sessions bucketed by the hour their reach
  * expires). This is the multi-stateful pipeline Structured Streaming
  * rejected before Spark 3.5 (one stateful op per query) and the one
  * chained shape none of the other 27 doors exercises: correctness
  * hinges on WATERMARK PROPAGATION — the engine must derive the
  * post-session watermark from finalized session ends (not raw event
  * time) so the downstream hour window knows when it may close. A
  * finalized hour row is a claim that NO session can ever again close
  * inside that hour.
  *
  * Streaming == batch: a finalized hour row is a function of the
  * finalized sessions closing in that hour only, and emits exactly
  * once — so over any in-order arrival partitioning the union of
  * emitted rows equals batch e44 on the watermark-closed prefix, bit
  * for bit. Hours the watermark never passes stay open and unemitted.
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite, with both operators'
  * state restored from the same checkpoint.
  *
  * Scale shape: stage one holds one open-session row per (user,
  * gap-run) — e03's state; stage two holds one row per OPEN hour
  * bucket (≤ a handful at any moment, since the watermark drains
  * buckets as it advances). The raw log shuffles once on user_id;
  * the second exchange carries only finalized session rows.
  */
object StreamingSessionChain {

  /** Start the job: `events` is any streaming frame bearing
    * (ts: timestamp, user_id); finalized (close_hour, n_sessions,
    * n_events) rows land under `outDir/batch_id=<n>/`.
    */
  def run(events: DataFrame, outDir: String, checkpointDir: String,
          watermark: String = "1 hour"): StreamingQuery =
    // append (the default mode): only watermark-closed HOURS emit
    Door.sink(
      graft.ops.EventOps.sessionCloseFrame(events.withWatermark("ts", watermark)),
      outDir, checkpointDir)((batch, _) => batch)
}
