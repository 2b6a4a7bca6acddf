package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming purchase→signup attribution — the e10 range join
  * (user-equi + 7-day interval, EventOps.purchaseSignupRange) as a
  * STREAM-STREAM join: the one stateful Structured Streaming shape the
  * door portfolio lacked (aggregates, session windows,
  * flatMapGroupsWithState, watermark dedup — but no two-stream join).
  * Purchases and signups arrive as two independently watermarked
  * streams; every purchase emits one row per signup by the same user
  * in its preceding 7 days, as soon as both rows have arrived.
  *
  * Streaming == batch (asserted in StreamingExtrasSpec): an INNER
  * stream-stream join emits each matched pair exactly once, in the
  * micro-batch where the later of the two rows lands — emission never
  * waits on the watermark (that is the outer-join rule), so over any
  * in-order split of a closed log the union of batch outputs equals
  * batch e10 on the same events, row for row.
  *
  * State bound — the reason Spark REQUIRES the interval condition:
  * from `s_ts <= p_ts AND s_ts > p_ts - 7 days` it derives per-side
  * state watermarks, so a buffered signup drops once the purchase
  * watermark passes s_ts + 7d (no future purchase can reach back to
  * it) and a buffered purchase drops once the signup watermark passes
  * p_ts (every joinable signup has arrived, up to the allowed
  * lateness). Each side's store holds a bounded 7-day+delay window of
  * keyed rows, never the stream's history — the property the plain
  * equi-join without the range predicate would NOT have.
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite, with the join state
  * restored from the checkpoint; the restart test forces the replay.
  *
  * Scale shape: the join shuffles both streams once on user_id (the
  * same hash pass batch e10 pays), the range predicate evaluates
  * inside the keyed state store, and output volume is bounded by the
  * true match count — identical to the batch plan's
  * equi-shuffle-then-filter, plus the state store.
  */
object StreamingAttribution {

  /** Start the job. `purchases` bears (purchase_id, user_id,
    * p_ts: timestamp); `signups` bears (signup_id, s_user_id,
    * s_ts: timestamp) — the signup side pre-renamed because
    * stream-stream join conditions reference both sides' columns in
    * one expression. Matched (purchase_id, user_id, signup_id) rows
    * land under `outDir/batch_id=<n>/`.
    */
  def run(purchases: DataFrame, signups: DataFrame, outDir: String,
          checkpointDir: String, watermark: String = "1 hour"): StreamingQuery = {
    val p = purchases.withWatermark("p_ts", watermark)
    val sg = signups.withWatermark("s_ts", watermark)
    val joined = p.join(sg,
        expr("user_id = s_user_id AND s_ts <= p_ts AND " +
          "s_ts > p_ts - INTERVAL 7 DAYS"))
      .select(col("purchase_id"), col("user_id"), col("signup_id"))
    Door.sink(joined, outDir, checkpointDir)((batch, _) => batch)
  }
}
