package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming incremental dedup — the d15 multi-signal probe
  * (graft.ops.Dedup.multiSignalProbe) as a production micro-batch job:
  * each arriving batch of (doc_id, text) documents probes the STATIC
  * historical index with all three signals (exact md5, capped
  * MinHash-LSH, banded SimHash), never itself, and ships one flagged
  * row per matched document. This is the ingest-time shape of the
  * dedup family: the index is yesterday's corpus, the stream is
  * today's crawl.
  *
  * Semantics that make the streaming form EQUAL the batch form (both
  * asserted in StreamingExtrasSpec): every output row depends only on
  * its own document versus the index, so per-batch probes compose —
  * the union over any batch partitioning of the input is bit-identical
  * to one batch run (d15 on the same slice).
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite; the restart
  * test forces a replay and proves the output is still the batch answer.
  *
  * Scale shape: identical to d15 — at 100 TB each index is
  * pre-bucketed/capped on disk, so per-batch probe cost scales with
  * the BATCH, not the corpus; the streaming loop adds no state beyond
  * the checkpoint (the index is static within a run, swapped between
  * runs by the usual snapshot rotation).
  */
object StreamingDedup {

  /** One micro-batch probe — exposed separately so tests and batch
    * backfills run the identical frame transform.
    */
  def probeBatch(batch: DataFrame, hist: DataFrame, cap: Int = 64): DataFrame =
    graft.ops.Dedup.multiSignalProbe(batch, hist, cap)

  /** Start the job: `newDocs` is any streaming frame bearing
    * (doc_id, text); `hist` the static historical corpus; flagged rows
    * land under `outDir/batch_id=<n>/`.
    *
    * The three historical probe indexes (md5 store, capped bands,
    * SimHash bands) are built and materialized HERE, once per run —
    * probing raw history text per micro-batch would re-hash the whole
    * corpus every trigger; with the prebuilt sidecars the per-batch
    * cost scales with the batch (the image/ANN jobs' index discipline
    * applied to the text modality).
    */
  def run(newDocs: DataFrame, hist: DataFrame, outDir: String,
          checkpointDir: String, cap: Int = 64,
          indexDir: Option[String] = None): StreamingQuery = {
    // Durable-sidecar path: an `indexDir` written by
    // Dedup.persistTextProbeIndex skips the run-start corpus pass
    // entirely — the history reads straight from the bucketed disk
    // tables (the snapshot-rotation shape at 100 TB), re-resolved per
    // trigger so takedowns are honored without restart (the shared
    // PerBatchIndex discipline).
    val resolve = PerBatchIndex.resolver(indexDir,
      d => graft.ops.Dedup.loadTextProbeIndex(newDocs.sparkSession, d),
      graft.ops.Dedup.buildTextProbeIndex(hist, cap, materialize = true))
    Door.sink(newDocs, outDir, checkpointDir) { (batch, _) =>
      graft.ops.Dedup.multiSignalProbeIndexed(batch, resolve())
    }
  }
}
