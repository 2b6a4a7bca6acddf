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
  * Exactly-once: the StreamingKmeans snapshot discipline — batch n
  * reads the count snapshot from `stateDir/batch_id=<n-1>` and
  * overwrites `batch_id=<n>`, so an at-least-once replay folds the
  * same arrivals into the same prior state and rewrites identical
  * bytes; a missing snapshot fails with the diagnosable
  * StreamingClusterMaintenance message.
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
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val arrivals = graft.ops.EventOps.userCounts(batch)
        val state =
          if (batchId == 0L) arrivals
          else {
            val prev = s"$stateDir/batch_id=${batchId - 1}"
            require(graft.Tables.hasParquet(s, prev, recursive = true),
              s"state snapshot for batch ${batchId - 1} missing under " +
                s"$stateDir — stateDir cleaned while the checkpoint survived?")
            s.read.parquet(prev).unionByName(arrivals)
              .groupBy(col("user_id"))
              .agg(sum(col("c")).as("c"))
          }
        val st = state.localCheckpoint()
        st.write.mode("overwrite").parquet(s"$stateDir/batch_id=$batchId")
        graft.ops.EventOps.giniOver(st)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }
}
