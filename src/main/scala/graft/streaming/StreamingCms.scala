package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming count-min sketch maintenance — e34's 4×64 counter table
  * kept live as events land: the constant-memory frequency serving
  * structure a heavy-hitter endpoint reads, maintained per tick.
  *
  * The contrast to StreamingGini is the point: Gini's state grows
  * with the user base (it must — ranks need every user); the CMS
  * state is 256 BIGINT counters FOREVER, whatever the corpus, and a
  * batch folds in counter-wise (CMS(A ∪ B) = CMS(A) + CMS(B)), which
  * is order- and split-free over exact BIGINTs, so the tick after the
  * last batch emits EXACTLY the batch sketch over the same arrivals
  * under any split. Estimates served from it inherit the one-sided
  * guarantee (never under the true count) at every tick.
  *
  * Exactly-once: the StreamingKmeans snapshot discipline — batch n
  * reads the counter snapshot from `stateDir/batch_id=<n-1>` and
  * overwrites `batch_id=<n>`, so an at-least-once replay folds the
  * same arrivals into the same prior counters and rewrites identical
  * bytes; a missing snapshot fails with the diagnosable
  * StreamingClusterMaintenance message.
  *
  * Scale shape: per-trigger cost is the batch's own user reduction
  * plus a 256-row merge; the emitted table is 256 rows per tick.
  */
object StreamingCms {

  /** Start the job: `events` is any streaming frame bearing
    * (user_id). Per-tick sketch tables land under
    * `outDir/batch_id=<n>/`; counter snapshots under
    * `stateDir/batch_id=<n>/`.
    */
  def run(events: DataFrame, outDir: String, stateDir: String,
          checkpointDir: String): StreamingQuery = {
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val arrivals =
          graft.ops.EventOps.cmsOver(graft.ops.EventOps.userCounts(batch))
        val state =
          if (batchId == 0L) arrivals
          else {
            val prev = s"$stateDir/batch_id=${batchId - 1}"
            require(graft.Tables.hasParquet(s, prev, recursive = true),
              s"state snapshot for batch ${batchId - 1} missing under " +
                s"$stateDir — stateDir cleaned while the checkpoint survived?")
            s.read.parquet(prev).unionByName(arrivals)
              .groupBy(col("i"), col("j"))
              .agg(sum(col("cnt")).as("cnt"))
          }
        val st = state.localCheckpoint()
        st.write.mode("overwrite").parquet(s"$stateDir/batch_id=$batchId")
        st.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }
}
