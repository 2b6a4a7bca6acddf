package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming exact-substring leak detection — the d36 incremental
  * span probe as an ingest door: each micro-batch of arriving
  * (doc_id, text) documents probes the STATIC historical L-gram set
  * and emits, per arrival, its maximal regions whose every L-window
  * already exists verbatim in the training corpus. The pre-admission
  * leakage report (licence blocks, templated passages, wholesale
  * copies) computed AS documents arrive instead of in the d34
  * retrospective.
  *
  * Streaming == batch (StreamingExtrasSpec): every output row is a
  * function of its own document and the static gram set only — the
  * batch transform IS `Dedup.incrementalSpanRows`, shared verbatim —
  * so the union over any batch split equals batch d36 row for row.
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite (no cross-batch
  * state at all here; the replay test is the cheap end of the family).
  *
  * Scale shape: only the BATCH hashes text; the probe is one
  * semi-join of batch gram rows against the pre-built gram set —
  * disk-resident and g-bucketed when `indexDir` is given
  * (`Dedup.persistSpanGramIndex`), so the run starts with NO corpus
  * pass and the per-batch cost is the batch, not the history.
  */
object StreamingSpanDedup {

  /** Start the job. `index` is the in-session gram set, pinned for
    * the run and released when the query terminates; pass
    * `indexDir = Some(root)` to stand entirely on the durable
    * `span_grams` sidecar instead (index may then be null).
    */
  def run(newDocs: DataFrame, index: DataFrame, outDir: String,
          checkpointDir: String, indexDir: Option[String] = None,
          l: Int = 20): StreamingQuery = {
    val session = newDocs.sparkSession
    val (idx, reap) = ReapOnTerminate.tracked(session) { pin =>
      indexDir
        .map(root => graft.ops.Dedup.loadSpanGramIndex(session, root))
        .getOrElse(pin(index))
    }
    ReapOnTerminate.install(session,
      start = () => Door.sink(newDocs, outDir, checkpointDir) { (batch, _) =>
        graft.ops.Dedup.incrementalSpanRows(batch, idx, l)
      },
      reap = reap)
  }
}
