package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming audio dedup — the ingest pattern on the FOURTH modality,
  * completing the streaming dedup family across text, image, video and
  * audio: each arriving micro-batch of (doc_id, payload: WAV bytes)
  * decodes and frame-energy-fingerprints INSIDE the batch's codec slot
  * (PCM never crosses an exchange), then probes the STATIC historical
  * fingerprint index by duration class — per arriving clip its nearest
  * historical clip by integer L1 and the distance, the
  * re-encode/re-post verdict at the door.
  *
  * Streaming == batch: every output row depends only on its own clip
  * versus the index, so per-batch probes compose — the union over any
  * batch partitioning equals `Multimodal.incrementalAudioDedup` (m18)
  * on the same slice, bit for bit (asserted in StreamingExtrasSpec).
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite; the restart test
  * forces a replay.
  *
  * Scale shape: the batch side decodes only its own payloads and
  * broadcasts (≤10-long integer fingerprints); the index is the
  * duration-class-bucketed fingerprint sidecar, static within a run,
  * swapped by snapshot rotation — or refreshed incrementally
  * (`Multimodal.refreshAudioIndex`), since fingerprint rows are
  * per-clip.
  */
object StreamingAudioDedup {

  /** One micro-batch probe — exposed separately so tests and batch
    * backfills run the identical frame transform.
    */
  def probeBatch(batch: DataFrame, index: DataFrame): DataFrame =
    graft.ops.Multimodal.audioProbeBatch(batch, index)

  /** Start the job: `newMedia` is any streaming frame bearing
    * (doc_id, payload: WAV bytes); `index` the static
    * (doc_id, n_frames, energies) fingerprint table
    * (`Multimodal.audioFpIndex`); verdict rows land under
    * `outDir/batch_id=<n>/`.
    *
    * Durable-index path: an `indexDir` written by
    * `Multimodal.persistAudioIndex` (plus any `refreshAudioIndex`
    * appends) replaces `index` — the job starts with NO decode pass,
    * reading fingerprints straight from the bucketed disk table.
    */
  def run(newMedia: DataFrame, index: DataFrame, outDir: String,
          checkpointDir: String,
          indexDir: Option[String] = None): StreamingQuery = {
    // Disk indexes re-resolve PER BATCH (the shared PerBatchIndex
    // takedown discipline — deleteFromAudioIndex lands without a
    // restart).
    val resolve = PerBatchIndex.resolver(indexDir,
      d => graft.ops.Multimodal.loadAudioIndex(newMedia.sparkSession, d),
      index)
    Door.sink(newMedia, outDir, checkpointDir) { (batch, _) =>
      probeBatch(batch, resolve())
    }
  }
}
