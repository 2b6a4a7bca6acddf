package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming watermark-lateness audit — e26 kept live as batches
  * arrive: the job a streaming platform runs NEXT TO its real
  * pipelines to check that the configured watermark delay still
  * covers the stream's actual out-of-orderness (a new producer with
  * clock skew shows up here first, BEFORE it shows up as silently
  * dropped rows in every downstream aggregate).
  *
  * Composition: each event's lateness depends only on the max
  * event-time of its arrival PREFIX, and max composes associatively
  * across batch boundaries — so per-batch audits over an in-order
  * feed sum to the one-shot e26 audit exactly (counts add, maxes
  * max; proven in StreamingExtrasSpec).
  *
  * Exactly-once: the [[Door]] snapshot fold — batch n starts its
  * prefix max from the `stateDir` snapshot of batch n−1
  * ([[Door.previous]], which also guards a missing snapshot) and
  * overwrites its own.
  *
  * Scale shape: per-trigger cost is the batch-sized range-partitioned
  * prefix-max (driver holds |ranges| rows + ONE long of state);
  * verdict rows are one per batch.
  */
object StreamingLatenessAudit {

  /** Start the job: `log` is any streaming frame bearing
    * (event_id, us) in arrival order. Per-batch verdict rows land
    * under `outDir/batch_id=<n>/`; the running max snapshots under
    * `stateDir/batch_id=<n>/`.
    */
  def run(log: DataFrame, outDir: String, stateDir: String,
          checkpointDir: String): StreamingQuery = {
    Door.sink(log, outDir, checkpointDir) { (batch, batchId) =>
      val prefix = Door.previous(batch.sparkSession, stateDir, batchId)
        .fold(Long.MinValue)(_.head.getLong(0))
      val verdict = graft.ops.EventOps.latenessBatchAudit(batch, prefix)
        .localCheckpoint()
      Door.snapshot(
        verdict.select(greatest(col("batch_max_us"), lit(prefix)).as("runmax_us")),
        stateDir, batchId)
      verdict.drop("batch_max_us")
    }
  }
}
