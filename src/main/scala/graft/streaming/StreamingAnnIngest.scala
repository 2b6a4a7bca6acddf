package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ANN index ingest — the s22 upsert as a production
  * micro-batch job, the WRITE-side twin of [[StreamingAnn]] (which
  * serves queries): each arriving batch of (vec_id, embedding) vectors
  * is cell-assigned with the exact s04 argmax over the FROZEN codebook
  * of the durable index and lands as that batch's delta partition;
  * serving reads [index ∪ delta] with no rebuild. Together the two
  * jobs close the online half of the IVF lifecycle: StreamingAnnIngest
  * admits vectors, StreamingAnn answers queries, s21's tombstones
  * cover deletes, and the periodic retrain/rebuild (s17/s19 +
  * persistIvfIndex) rotates the snapshot.
  *
  * Why deltas, not in-place appends: `Similarity.refreshIvfIndex` is
  * the right batch-maintenance form, but an at-least-once replay of an
  * APPEND duplicates rows — appends are not idempotent. The streaming
  * door therefore writes through [[Door.sink]], whose batch-keyed
  * overwrite of `deltaDir/batch_id=<n>` is exactly-once, and a later
  * `refreshIvfIndex`/`compactIvfIndex` pass folds the accumulated
  * deltas into the bucketed table on the maintenance cadence.
  *
  * Streaming == batch: each arrival's assignment depends only on the
  * frozen codebook, so the union of per-batch assignments over any
  * arrival partitioning equals one batch `ivfUpsertAssign` run bit for
  * bit, and probing [index ∪ delta] equals probing the frozen-codebook
  * rebuild (both asserted in StreamingExtrasSpec).
  *
  * Scale shape: per-batch cost is the broadcast-codebook narrow argmax
  * over the batch — nothing corpus-sized moves; the index contributes
  * only its ≤16 codebook rows, read once at job start.
  */
object StreamingAnnIngest {

  /** One micro-batch assignment — exposed so tests and batch backfills
    * run the identical frame transform.
    */
  def assignBatch(batch: DataFrame, index: DataFrame): DataFrame =
    graft.ops.Similarity.ivfUpsertAssign(batch, index)

  /** Start the job: `arrivals` is any streaming frame bearing
    * (vec_id, embedding); `indexDir` a durable index written by
    * `Similarity.persistIvfIndex`; assignment rows land under
    * `deltaDir/batch_id=<n>/`.
    */
  def run(arrivals: DataFrame, indexDir: String, deltaDir: String,
          checkpointDir: String): StreamingQuery = {
    val s = arrivals.sparkSession
    // the FROZEN persisted codebook is the only part of the index the
    // assignment needs; materialize it once per run (≤16 rows) and
    // release it when the query terminates.
    // (Never re-derive from index rows: a prior upsert may have
    // appended arrivals with vec_id < 16.)
    val (cb, reap) = ReapOnTerminate.tracked(s)(pin =>
      pin(graft.ops.Similarity.loadIvfCodebook(s, indexDir)))
    ReapOnTerminate.install(s,
      start = () => Door.sink(arrivals, deltaDir, checkpointDir) { (batch, _) =>
        graft.ops.Similarity.ivfAssignOverCodebook(batch, cb)
      },
      reap = reap)
  }

  /** The serving view over a durable index plus its accumulated
    * streamed deltas — what [[StreamingAnn]] (or any batch probe)
    * reads to serve [index ∪ delta] without a rebuild. Before the
    * first micro-batch commits the delta directory holds no parquet;
    * serving then falls back to the index alone instead of dying on
    * schema inference (the deploy order IS index → ingest → serve).
    */
  def servingIndex(s: SparkSession, indexDir: String,
                   deltaDir: String): DataFrame = {
    val idx = graft.ops.Similarity.loadIvfIndex(s, indexDir)
    val unioned =
      if (!graft.Tables.hasParquet(s, deltaDir, recursive = true)) idx
      else idx.unionByName(s.read.parquet(deltaDir)
        .select("vec_id", "embedding", "nrm", "cell_id"))
    // Deletes mask AFTER the union so a tombstone hits upserted rows
    // too (no-op when the root has no delete log).
    graft.ops.Similarity.maskIvfDeletes(unioned, indexDir)
  }
}
