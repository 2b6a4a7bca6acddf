package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming DAU/WAU stickiness — e27 kept live as events land: the
  * growth dashboard's headline metric maintained per ingest tick
  * instead of recomputed from the raw event log.
  *
  * State is the (day_i, user_id) DISTINCT activity reduction — e27's
  * own "persisted activity sidecar", NOT the event stream: a batch
  * folds in as a union-distinct, which is order- and split-free (the
  * union-find argument in set form), so the tick after the last batch
  * emits EXACTLY batch e27 over the same arrivals under any batch
  * split, late and out-of-order days included (a late event for an
  * old day lands in the state row it always would have — trailing
  * windows recompute from state, never from arrival order). Proven in
  * StreamingExtrasSpec with an out-of-order split plus forced replay.
  *
  * Exactly-once: the [[Door]] snapshot fold — batch n folds its
  * arrivals into the `stateDir` snapshot of batch n−1
  * ([[Door.previous]], which also guards a missing snapshot) and
  * overwrites its own.
  *
  * Scale shape: per-trigger cost is the batch's own (day, user)
  * reduction plus a distinct-union against state bounded by
  * |active days × users| — the activity table every engagement
  * metric shares, orders of magnitude under the event log; the
  * emitted stickiness table is |days| rows. At 100 TB closed days
  * compact out of the hot snapshot into the durable activity sidecar
  * exactly like the label table's fold lifecycle.
  */
object StreamingStickiness {

  /** Start the job: `events` is any streaming frame bearing
    * (ts, user_id). Per-tick stickiness tables land under
    * `outDir/batch_id=<n>/`; activity snapshots under
    * `stateDir/batch_id=<n>/`.
    */
  def run(events: DataFrame, outDir: String, stateDir: String,
          checkpointDir: String): StreamingQuery = {
    Door.sink(events, outDir, checkpointDir) { (batch, batchId) =>
      val arrivals = graft.ops.EventOps.dayUserActivity(batch)
      val folded = Door.previous(batch.sparkSession, stateDir, batchId)
        .fold(arrivals)(_.union(arrivals).distinct())
      graft.ops.EventOps.stickinessOver(Door.snapshot(folded, stateDir, batchId))
    }
  }
}
