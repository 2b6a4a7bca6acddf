package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming session features — the e18 feature table as a watermarked
  * streaming job, exercising the one stateful windowed shape the
  * streaming family did not yet: `session_window`, Structured
  * Streaming's native data-driven window (gap-merged as events arrive,
  * finalized when the watermark passes the gap). Arriving (ts, user_id,
  * event_type, value) events feed the EXACT e18 aggregation frame
  * (`EventOps.sessionFeatureFrame`); when the watermark closes a
  * session, its finalized feature row — count, integer-µs duration,
  * distinct-type count, conversion flag, decimal-exact value sum —
  * emits in append mode. The churn/propensity feature pipe, computed
  * AS the sessions end instead of in a nightly batch.
  *
  * Streaming == batch (the StreamingTopK discipline, asserted in
  * StreamingExtrasSpec): every output row is a function of its own
  * finalized session only, and a session emits exactly once — when the
  * watermark passes its close — so the union of emitted rows over any
  * in-order arrival partitioning equals batch e18 on the same events,
  * bit for bit. Sessions the watermark never passes (the tail of the
  * log) stay open and unemitted, exactly the rows a nightly batch over
  * a closed day would not see either.
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite, with the session state
  * restored from the checkpoint; the restart test forces the replay.
  *
  * Scale shape: state is one open-session row per (user, gap-run) —
  * each holding the partial aggregate (count, min/max µs, ≤|types| set,
  * decimal sum), never raw events — merged by Spark's session-merge
  * exec and evicted at the watermark; the shuffle is the same one
  * user_id hash pass batch e18 pays.
  */
object StreamingSessions {

  /** Start the job: `events` is any streaming frame bearing
    * (ts: timestamp, user_id, event_type, value); finalized session
    * feature rows land under `outDir/batch_id=<n>/`.
    */
  def run(events: DataFrame, outDir: String, checkpointDir: String,
          watermark: String = "30 minutes"): StreamingQuery =
    // append (the default mode): only watermark-closed sessions emit
    Door.sink(
      graft.ops.EventOps.sessionFeatureFrame(events.withWatermark("ts", watermark)),
      outDir, checkpointDir)((batch, _) => batch)
}
