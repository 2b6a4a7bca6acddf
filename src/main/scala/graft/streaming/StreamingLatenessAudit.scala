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
  * Exactly-once for the stateful prefix: the StreamingKmeans snapshot
  * discipline — batch n reads the running max from
  * `stateDir/batch_id=<n-1>` and overwrites `batch_id=<n>`, so an
  * at-least-once replay rewrites identical bytes; a missing snapshot
  * (cleaned stateDir under a surviving checkpoint) fails with a
  * diagnosable message, the StreamingClusterMaintenance guard.
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
    log.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val prefix =
          if (batchId == 0L) Long.MinValue
          else {
            val prev = s"$stateDir/batch_id=${batchId - 1}"
            require(graft.Tables.hasParquet(s, prev, recursive = true),
              s"state snapshot for batch ${batchId - 1} missing under " +
                s"$stateDir — stateDir cleaned while the checkpoint survived?")
            s.read.parquet(prev).head.getLong(0)
          }
        val verdict = graft.ops.EventOps.latenessBatchAudit(batch, prefix)
          .localCheckpoint()
        verdict.drop("batch_max_us")
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        verdict.select(greatest(col("batch_max_us"), lit(prefix)).as("runmax_us"))
          .write.mode("overwrite").parquet(s"$stateDir/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }
}
