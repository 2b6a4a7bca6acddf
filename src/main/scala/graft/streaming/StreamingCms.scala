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
  * Exactly-once: the [[Door]] snapshot fold — batch n folds its
  * arrivals into the `stateDir` snapshot of batch n−1
  * ([[Door.previous]], which also guards a missing snapshot) and
  * overwrites its own.
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
    Door.sink(events, outDir, checkpointDir) { (batch, batchId) =>
      val arrivals = graft.ops.EventOps.cmsOver(graft.ops.EventOps.userCounts(batch))
      val folded = Door.previous(batch.sparkSession, stateDir, batchId)
        .fold(arrivals)(_.unionByName(arrivals)
          .groupBy(col("i"), col("j")).agg(sum(col("cnt")).as("cnt")))
      Door.snapshot(folded, stateDir, batchId)
    }
  }
}
