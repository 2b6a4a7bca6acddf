package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming SRP signature ingest — the s26 upsert as a micro-batch
  * job, completing the online half of the signed-random-projection
  * lifecycle the way [[StreamingAnnIngest]] does for IVF. Each
  * arriving batch of (vec_id, embedding) vectors hashes under the
  * frozen md5 seed (`Similarity.srpSignatures`) and lands as that
  * batch's delta partition; Hamming serving reads [index ∪ delta]
  * with no rebuild.
  *
  * Simpler than the IVF door in exactly the way SRP is simpler than
  * IVF: there is NO index state to read at job start — no codebook,
  * no model table. The seed is the model, so the job needs only the
  * delta directory, and a batch's output depends on nothing but the
  * batch (the strongest possible replay story).
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite of
  * `deltaDir/batch_id=<n>`. A later
  * `Similarity.refreshSrpIndex`/`compactSrpIndex` pass folds deltas
  * into the bucketed table on the maintenance cadence.
  *
  * Streaming == batch: signatures are a pure per-row function, so the
  * union of per-batch outputs over ANY arrival partitioning equals
  * one batch `srpSignatures` run bit for bit (StreamingExtrasSpec).
  *
  * Scale shape: per-batch cost is the narrow 16×64 integer-dot pass
  * over the batch alone; nothing corpus-sized is ever touched.
  */
object StreamingSrpIngest {

  /** One micro-batch transform — exposed so tests and batch backfills
    * run the identical frame transform.
    */
  def hashBatch(batch: DataFrame): DataFrame =
    graft.ops.Similarity.srpSignatures(batch)

  /** Start the job: `arrivals` is any streaming frame bearing
    * (vec_id, embedding); signature rows land under
    * `deltaDir/batch_id=<n>/`.
    */
  def run(arrivals: DataFrame, deltaDir: String,
          checkpointDir: String): StreamingQuery =
    Door.sink(arrivals, deltaDir, checkpointDir)((batch, _) => hashBatch(batch))

  /** The serving view over a durable index plus its accumulated
    * streamed deltas — what any Hamming probe reads to serve
    * [index ∪ delta] without a rebuild. Falls back to the index alone
    * while the delta directory is still empty (pre-first-commit).
    */
  def servingIndex(s: SparkSession, indexDir: String,
                   deltaDir: String): DataFrame = {
    val idx = graft.ops.Similarity.loadSrpIndex(s, indexDir)
    if (!graft.Tables.hasParquet(s, deltaDir, recursive = true)) idx
    else idx.unionByName(s.read.parquet(deltaDir).select("vec_id", "sig"))
  }
}
