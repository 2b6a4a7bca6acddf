package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming hourly-periodicity audit — e30 kept live as events land:
  * the seasonality/bot dashboard maintained per ingest tick instead
  * of recomputed from the raw event log.
  *
  * State is the (event_type, hour, count) reduction — e30's own
  * series table, never the event stream: a batch's counts fold in by
  * ADDITION, which is order- and split-free over exact BIGINTs (the
  * StreamingStickiness argument with + in place of set-union), so the
  * tick after the last batch emits EXACTLY batch e30 over the same
  * arrivals under any batch split, late and out-of-order hours
  * included (a late event for an old hour adds to the state row it
  * always would have; every lag product recomputes from state).
  * Proven in StreamingExtrasSpec with an out-of-order split plus
  * forced replay.
  *
  * Exactly-once: the [[Door]] snapshot fold — batch n folds its
  * arrivals into the `stateDir` snapshot of batch n−1
  * ([[Door.previous]], which also guards a missing snapshot) and
  * overwrites its own.
  *
  * Scale shape: per-trigger cost is the batch's own (type, hour)
  * reduction plus a groups-sized merge — the state is |types|·|hours|
  * rows (8760/year per type), orders of magnitude under the log; the
  * audit emits |types| rows. Closed hours never change (counts only
  * grow), so at 100 TB old state compacts into the durable series
  * sidecar exactly like the label table's fold lifecycle.
  */
object StreamingPeriodicity {

  /** Start the job: `events` is any streaming frame bearing
    * (event_type, ts). Per-tick audit tables land under
    * `outDir/batch_id=<n>/`; count snapshots under
    * `stateDir/batch_id=<n>/`.
    */
  def run(events: DataFrame, outDir: String, stateDir: String,
          checkpointDir: String): StreamingQuery = {
    Door.sink(events, outDir, checkpointDir) { (batch, batchId) =>
      val arrivals = graft.ops.EventOps.hourlyCounts(batch)
      val folded = Door.previous(batch.sparkSession, stateDir, batchId)
        .fold(arrivals)(_.unionByName(arrivals)
          .groupBy(col("event_type"), col("h")).agg(sum(col("c")).as("c")))
      graft.ops.EventOps.periodicityOver(Door.snapshot(folded, stateDir, batchId))
    }
  }
}
