package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming form of e43 — DYNAMIC-gap session windows
  * ([[graft.ops.EventOps.dynamicSessionFrame]]): the inactivity gap is
  * decided per event by its type (purchase holds 30 minutes, anything
  * else 10), so a session's end is the running max of per-event
  * `ts + gap`. Structured Streaming's session-merge exec handles the
  * dynamic gap natively — each arriving row expands to its own
  * [ts, ts+gap) window before the merge, so a long-gap purchase keeps
  * the session open across short-gap events exactly as in batch, and
  * the watermark closes a session only once it passes the session's
  * RUNNING-MAX end (not the last event's own reach).
  *
  * Streaming == batch (the StreamingSessions discipline, asserted in
  * StreamingExtrasSpec): a finalized row is a function of its own
  * closed session only and emits exactly once, so the union of emitted
  * rows over any in-order arrival partitioning equals batch e43 on the
  * watermark-closed prefix, bit for bit. Open tail sessions stay
  * unemitted — the rows a batch over a closed day would not see.
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite, with the session state
  * restored from the checkpoint.
  *
  * Scale shape: state is one open-session row per (user, gap-run)
  * holding (count, purchase count, running end), never raw events;
  * one user_id hash shuffle — the same pass batch e43 pays.
  */
object StreamingDynamicSessions {

  /** Start the job: `events` is any streaming frame bearing
    * (ts: timestamp, user_id, event_type); finalized session rows
    * (user_id, session_start, n, n_purchase) land under
    * `outDir/batch_id=<n>/`.
    */
  def run(events: DataFrame, outDir: String, checkpointDir: String,
          watermark: String = "1 hour"): StreamingQuery =
    // append (the default mode): only watermark-closed sessions emit
    Door.sink(
      graft.ops.EventOps.dynamicSessionFrame(events.withWatermark("ts", watermark)),
      outDir, checkpointDir)((batch, _) => batch)
}
