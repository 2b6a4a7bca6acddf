package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming image dedup — [[StreamingDedup]]'s ingest pattern applied
  * to the second modality: each arriving micro-batch of (doc_id,
  * payload: PNG bytes) decodes and perceptually hashes INSIDE the batch
  * (payloads never cross an exchange — executed-plan-asserted in
  * StreamingExtrasSpec), then probes the STATIC m08 aHash sidecar via
  * the m11 band equi-join + Hamming verify, never itself. One flagged
  * row per matched image: (doc_id, dup_of, hamming).
  *
  * Streaming == batch: every output row depends only on its own image
  * versus the index, so per-batch probes compose — the union over any
  * batch partitioning equals `Multimodal.incrementalImageDedup` (m13)
  * on the same slice, bit for bit (asserted in StreamingExtrasSpec).
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite; the restart test
  * forces a replay.
  *
  * Scale shape: the BATCH side of the probe is broadcast (micro-batches
  * are small by definition); the corpus-sized index only streams
  * through the band join, so per-batch cost scales with the batch, not
  * the corpus. At 100 TB the index band table is the persisted m08
  * sidecar, swapped between runs by snapshot rotation.
  */
object StreamingImageDedup {

  /** One micro-batch probe — exposed separately so tests and batch
    * backfills run the identical frame transform.
    */
  def probeBatch(batch: DataFrame, index: DataFrame, maxHamming: Int = 2): DataFrame =
    graft.ops.Multimodal.imageProbeBatch(batch, index, maxHamming)

  /** Start the job: `newMedia` is any streaming frame bearing
    * (doc_id, payload); `index` the static (doc_id, ahash_hi, ahash_lo)
    * sidecar; flagged rows land under `outDir/batch_id=<n>/`.
    *
    * Durable-index path: an `indexDir` written by
    * `Multimodal.persistImageIndex` (plus any `refreshImageIndex`
    * appends) replaces `index` — the job starts with NO decode pass,
    * reading the hash rows straight from the bucketed disk table (the
    * snapshot-rotation shape at 100 TB).
    */
  def run(newMedia: DataFrame, index: DataFrame, outDir: String,
          checkpointDir: String, maxHamming: Int = 2,
          indexDir: Option[String] = None): StreamingQuery = {
    // Disk indexes re-resolve PER BATCH (the shared PerBatchIndex
    // takedown discipline): a delete-log append
    // (Multimodal.deleteFromImageIndex) between triggers is honored
    // by the next batch without a restart.
    val resolve = PerBatchIndex.resolver(indexDir,
      d => graft.ops.Multimodal.loadImageIndex(newMedia.sparkSession, d)
        .select("doc_id", "ahash_hi", "ahash_lo"),
      index)
    Door.sink(newMedia, outDir, checkpointDir) { (batch, _) =>
      probeBatch(batch, resolve(), maxHamming)
    }
  }
}
