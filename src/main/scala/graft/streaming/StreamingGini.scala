package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming engagement-inequality audit — e33 kept live as events
  * land: the whale-concentration dial maintained per ingest tick
  * instead of recomputed from the raw event log.
  *
  * State is the (user_id, c) reduction — e33's own count table, never
  * the event stream: a batch's per-user counts fold in by ADDITION,
  * which is order- and split-free over exact BIGINTs (the
  * StreamingPeriodicity argument keyed by user instead of hour), so
  * the tick after the last batch emits EXACTLY batch e33 over the
  * same arrivals under any batch split. The per-tick Gini re-ranks
  * the STATE (user-cardinality rows) with the same two-pass
  * range-partitioned rank as the batch op — ranks are not
  * incrementally maintainable (one arrival can shift every rank), but
  * the rank input is the state table, never the log.
  *
  * Exactly-once: the [[Door]] snapshot fold — batch n folds its
  * arrivals into the `stateDir` snapshot of batch n−1
  * ([[Door.previous]], which also guards a missing snapshot) and
  * overwrites its own.
  *
  * Scale shape: per-trigger cost is the batch's own user reduction
  * plus a user-cardinality merge and rank — bounded by the user base,
  * never the event volume; the audit emits ONE row per tick.
  */
object StreamingGini {

  /** Start the job: `events` is any streaming frame bearing
    * (user_id). Per-tick audit rows land under `outDir/batch_id=<n>/`;
    * count snapshots under `stateDir/batch_id=<n>/`.
    */
  def run(events: DataFrame, outDir: String, stateDir: String,
          checkpointDir: String): StreamingQuery = {
    Door.sink(events, outDir, checkpointDir) { (batch, batchId) =>
      val arrivals = graft.ops.EventOps.userCounts(batch)
      val folded = Door.previous(batch.sparkSession, stateDir, batchId)
        .fold(arrivals)(_.unionByName(arrivals)
          .groupBy(col("user_id")).agg(sum(col("c")).as("c")))
      graft.ops.EventOps.giniOver(Door.snapshot(folded, stateDir, batchId))
    }
  }
}
