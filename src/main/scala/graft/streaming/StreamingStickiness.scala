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
  * Exactly-once: the StreamingKmeans snapshot discipline — batch n
  * reads the activity snapshot from `stateDir/batch_id=<n-1>` and
  * overwrites `batch_id=<n>`, so an at-least-once replay folds the
  * same arrivals into the same prior state and rewrites identical
  * bytes; a missing snapshot fails with the diagnosable
  * StreamingClusterMaintenance message.
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
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val arrivals = graft.ops.EventOps.dayUserActivity(batch)
        val state =
          if (batchId == 0L) arrivals
          else {
            val prev = s"$stateDir/batch_id=${batchId - 1}"
            require(graft.Tables.hasParquet(s, prev, recursive = true),
              s"state snapshot for batch ${batchId - 1} missing under " +
                s"$stateDir — stateDir cleaned while the checkpoint survived?")
            s.read.parquet(prev).union(arrivals).distinct()
          }
        val st = state.localCheckpoint()
        st.write.mode("overwrite").parquet(s"$stateDir/batch_id=$batchId")
        graft.ops.EventOps.stickinessOver(st)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }
}
