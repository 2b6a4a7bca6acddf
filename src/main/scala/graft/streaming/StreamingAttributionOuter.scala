package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming purchase→signup attribution COVERAGE — e29's LEFT OUTER
  * interval join as two watermarked streams: the outer-join half of
  * the stream-stream story [[StreamingAttribution]]'s inner join
  * deliberately left out, and semantically the harder half. An inner
  * match emits the moment both rows have arrived; a NULL-extended row
  * ("this purchase has no attributable signup") is a claim about
  * ABSENCE, so Spark may only emit it once the signup-side watermark
  * has passed the purchase's entire 7-day reach-back window — before
  * that, a matching signup could still arrive. That is the
  * operational difference this door exists to pin: outer results
  * trail the watermark, inner results don't, and a consumer reading
  * `batch_id=<n>` directories sees matched rows early and
  * null-extended rows late. Over any closed log with the watermark
  * advanced past every open window, the union of batch outputs equals
  * batch e29 row for row (asserted in StreamingExtrasSpec by feeding
  * a far-future sentinel through both streams to close the last
  * windows, then diffing against [[graft.ops.EventOps.purchaseSignupOuter]]).
  *
  * State bound: same as the inner form — the interval condition gives
  * Spark per-side state watermarks (a signup drops once the purchase
  * watermark passes s_ts + 7d; a purchase drops — emitting its NULL
  * row if still unmatched — once the signup watermark passes p_ts),
  * so each store holds a bounded 7-day+delay window of keyed rows.
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite, with the join state
  * restored from the checkpoint; the restart test forces the replay.
  *
  * Scale shape: one user_id shuffle per stream into the keyed state
  * store, range predicate evaluated in-store, output bounded by
  * |purchases| + true match count — the batch plan's cost plus the
  * state store, independent of stream lifetime.
  */
object StreamingAttributionOuter {

  /** Start the job. Schemas as [[StreamingAttribution.run]]; rows land
    * under `outDir/batch_id=<n>/` as (purchase_id, user_id,
    * signup_id), with signup_id NULL once a purchase's window closes
    * unmatched.
    */
  def run(purchases: DataFrame, signups: DataFrame, outDir: String,
          checkpointDir: String, watermark: String = "1 hour"): StreamingQuery = {
    val p = purchases.withWatermark("p_ts", watermark)
    val sg = signups.withWatermark("s_ts", watermark)
    val joined = p.join(sg,
        expr("user_id = s_user_id AND s_ts <= p_ts AND " +
          "s_ts > p_ts - INTERVAL 7 DAYS"),
        "leftOuter")
      .select(col("purchase_id"), col("user_id"), col("signup_id"))
    Door.sink(joined, outDir, checkpointDir)((batch, _) => batch)
  }
}
