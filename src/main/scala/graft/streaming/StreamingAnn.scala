package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ANN serving — the s04 IVF probe
  * (graft.ops.Similarity.ivfProbeBatch) as a production micro-batch
  * job: each arriving batch of (q_id, embedding) query vectors is
  * assigned to its coarse cell and probes the STATIC index, shipping
  * top-5 neighbors per query. This is the ingest-time shape of the
  * similarity family — the index is the curated corpus, the stream is
  * the query log (retrieval requests, near-dup checks on arriving
  * embeddings, online eval probes) — and completes the streaming
  * triple: text dedup (StreamingDedup), image dedup
  * (StreamingImageDedup), and now embedding search.
  *
  * Semantics that make the streaming form EQUAL the batch form (both
  * asserted in StreamingExtrasSpec): every output row depends only on
  * its own query versus the index, so per-batch probes compose — the
  * union over any batch partitioning of a query set is bit-identical
  * to the one-shot batch run.
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite.
  *
  * Scale shape: per-batch cost scales with the BATCH (broadcast query
  * side), the corpus-sized index only streams through the cell
  * equi-join; the job holds no state beyond the checkpoint — the index
  * is static within a run and swapped between runs by snapshot
  * rotation, exactly like the dedup indexes.
  */
object StreamingAnn {

  /** One micro-batch probe — exposed separately so tests and batch
    * backfills run the identical frame transform.
    */
  def probeBatch(batch: DataFrame, index: DataFrame): DataFrame =
    graft.ops.Similarity.ivfProbeBatch(batch, index)

  /** Start the job: `queries` is any streaming frame bearing
    * (q_id, embedding); `index` the static IVF assignment sidecar;
    * results land under `outDir/batch_id=<n>/`.
    *
    * The index is materialized (localCheckpoint) HERE, once per run:
    * a caller passing the lazy `ivfIndex` frame would otherwise
    * re-execute the full corpus IVF assignment on every micro-batch —
    * the per-batch cost must scale with the batch, so the corpus-sized
    * work happens exactly once. The pin is released when the query
    * terminates ([[ReapOnTerminate]]).
    */
  def run(queries: DataFrame, index: DataFrame, outDir: String,
          checkpointDir: String): StreamingQuery = {
    val (idx, reap) = ReapOnTerminate.tracked(queries.sparkSession)(pin => pin(index))
    ReapOnTerminate.install(queries.sparkSession,
      start = () => runWith(queries, idx, outDir, checkpointDir), reap = reap)
  }

  /** Start the job against the DURABLE index: `sidecarRoot` is a dir
    * written by `CorpusIndexes.persistSidecars`; the `ivf_assigned`
    * table reads straight from its bucketed parquet — no run-start
    * corpus pass, no in-memory copy, the 100 TB snapshot-rotation
    * shape.
    */
  def runFromSidecar(queries: DataFrame, sidecarRoot: String, outDir: String,
                     checkpointDir: String): StreamingQuery =
    runWith(queries,
      // Serve, don't read raw: a root that has taken deletes carries a
      // tombstone log, and a probe server must never return a deleted
      // neighbor (no-op mask on delete-free roots).
      graft.ops.Similarity.maskIvfDeletes(
        graft.ops.CorpusIndexes.readSidecar(queries.sparkSession, sidecarRoot,
          "ivf_assigned"),
        sidecarRoot),
      outDir, checkpointDir)

  private def runWith(queries: DataFrame, idx: DataFrame, outDir: String,
                      checkpointDir: String): StreamingQuery =
    Door.sink(queries, outDir, checkpointDir)((batch, _) => probeBatch(batch, idx))
}
