package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming video dedup — [[StreamingImageDedup]]'s ingest pattern on
  * the third modality, completing the streaming dedup family across
  * text, image and video: each arriving micro-batch of (doc_id,
  * payload: GIF bytes) decodes and frame-hashes INSIDE the batch's
  * codec slot (payloads never cross an exchange), then probes the
  * STATIC historical frame-digest index by exact digest — per arriving
  * video its known-frame fraction and earliest historical carrier,
  * the re-post/trim verdict at the door.
  *
  * Streaming == batch: every output row depends only on its own video
  * versus the index, so per-batch probes compose — the union over any
  * batch partitioning equals `Multimodal.incrementalVideoDedup` (m17)
  * on the same slice, bit for bit (asserted in StreamingExtrasSpec).
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite; the restart test
  * forces a replay.
  *
  * Scale shape: the batch side decodes only its own payloads; the
  * index is the digest-keyed frame sidecar aggregate (24 bytes/row),
  * static within a run, swapped by snapshot rotation — or refreshed
  * incrementally, since frame-hash rows are per-video.
  */
object StreamingVideoDedup {

  /** One micro-batch probe — exposed separately so tests and batch
    * backfills run the identical frame transform.
    */
  def probeBatch(batch: DataFrame, index: DataFrame): DataFrame =
    graft.ops.Multimodal.videoProbeBatch(batch, index)

  /** Start the job: `newMedia` is any streaming frame bearing
    * (doc_id, payload: GIF bytes); `index` the static
    * (ahash_hi, ahash_lo, hist_doc) earliest-carrier table
    * (`Multimodal.videoFrameIndex`); verdict rows land under
    * `outDir/batch_id=<n>/`.
    *
    * Durable-index path: an `indexDir` written by
    * `Multimodal.persistVideoIndex` (plus any `refreshVideoIndex`
    * appends) replaces `index` entirely — the job starts with NO
    * decode pass, aggregating the earliest-carrier probe table
    * straight from the bucketed frame-hash rows on disk (the
    * snapshot-rotation shape at 100 TB; a zero-exchange digest
    * aggregate, materialized once per run).
    */
  def run(newMedia: DataFrame, index: DataFrame, outDir: String,
          checkpointDir: String,
          indexDir: Option[String] = None): StreamingQuery = {
    // Disk indexes re-resolve PER BATCH (the shared PerBatchIndex
    // takedown discipline — deleteFromVideoIndex lands without a
    // restart); the per-trigger cost is the zero-exchange digest
    // aggregate over the bucketed rows, never a decode. This also
    // drops the old run-start localCheckpoint, which pinned its
    // blocks for the life of the query with nothing reaping them.
    val resolve = PerBatchIndex.resolver(indexDir,
      d => graft.ops.Multimodal.loadVideoFrameIndex(newMedia.sparkSession, d),
      index)
    Door.sink(newMedia, outDir, checkpointDir) { (batch, _) =>
      probeBatch(batch, resolve())
    }
  }
}
