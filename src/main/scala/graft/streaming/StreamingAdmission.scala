package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ingest admission — the d25 curation gates as a
  * production micro-batch job, completing the streaming family's
  * story: not just "is this arriving doc a duplicate"
  * (StreamingDedup) but the FULL admit/reject decision a curation
  * pipeline makes at the door — three dedup signals against the
  * static historical index, the t02 quality bar, and benchmark
  * decontamination — one verdict row per arriving document, with the
  * reject reason(s) carried as columns.
  *
  * Semantics that make the streaming form EQUAL the batch form (both
  * asserted in StreamingExtrasSpec): every output row depends only on
  * its own document versus the static sidecars, so per-batch probes
  * compose — the union over any batch partitioning of the new slice
  * is bit-identical to the one-shot d25 batch query.
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite.
  *
  * Scale shape: per-batch cost scales with the BATCH (it is the small
  * side of every probe join; the gram set broadcasts); the historical
  * index and eval-gram sidecars are static within a run and swapped
  * between runs by snapshot rotation, exactly like the dedup indexes.
  */
object StreamingAdmission {

  /** One micro-batch admission — exposed separately so tests and
    * batch backfills run the identical frame transform.
    */
  def admitBatch(batch: DataFrame, histDocs: DataFrame,
                 benchGrams: DataFrame): DataFrame =
    graft.ops.Dedup.admissionProbe(batch, histDocs, benchGrams)

  /** Start the job: `docs` is any streaming frame bearing
    * (doc_id, text); `histDocs` the static historical corpus slice;
    * `benchGrams` the eval-suite gram set (g). Verdict rows land under
    * `outDir/batch_id=<n>/`.
    *
    * The historical probe indexes are built and materialized once per
    * run (the StreamingDedup discipline) — only the BATCH side hashes
    * text per trigger.
    */
  def run(docs: DataFrame, histDocs: DataFrame, benchGrams: DataFrame,
          outDir: String, checkpointDir: String,
          indexDir: Option[String] = None): StreamingQuery = {
    // Durable-sidecar path (StreamingDedup discipline): a persisted
    // index dir replaces the run-start corpus pass with bucketed
    // disk-table reads, RESOLVED PER BATCH so a takedown
    // (Dedup.deleteFromTextProbeIndex) between triggers is honored by
    // the next batch without a restart.
    val resolve = resolver(docs, histDocs, indexDir)
    Door.sink(docs, outDir, checkpointDir) { (batch, _) =>
      graft.ops.Dedup.admissionProbeIndexed(batch, resolve(), benchGrams)
    }
  }

  /** The d28 form of the door: the staged cascade PLUS the
    * survivors-only PII gate per micro-batch (email/phone hits reject
    * at stage 'pii'; IPv4 counts carry to the redact step). Same
    * composition and exactly-once conventions as [[run]] — every
    * verdict depends only on its own document versus the static
    * sidecars, so streamed batches union to the batch
    * `Dedup.piiAdmissionProbeIndexed` bit for bit.
    */
  def runPii(docs: DataFrame, histDocs: DataFrame, benchGrams: DataFrame,
             outDir: String, checkpointDir: String,
             indexDir: Option[String] = None): StreamingQuery = {
    val resolve = resolver(docs, histDocs, indexDir)
    Door.sink(docs, outDir, checkpointDir) { (batch, _) =>
      graft.ops.Dedup.piiAdmissionProbeIndexed(batch, resolve(), benchGrams)
    }
  }

  /** Per-batch index resolution (shared by both door shapes) — the
    * shared PerBatchIndex takedown discipline: disk indexes re-resolve
    * each trigger, a corpus build materializes once.
    */
  private def resolver(docs: DataFrame, histDocs: DataFrame,
                       indexDir: Option[String]): () => graft.ops.Dedup.TextProbeIndex =
    PerBatchIndex.resolver(indexDir,
      d => graft.ops.Dedup.loadTextProbeIndex(docs.sparkSession, d),
      graft.ops.Dedup.buildTextProbeIndex(histDocs, materialize = true))
}
