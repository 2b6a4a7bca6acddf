package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming DSIR selection — t49's importance weights as an ingest
  * admission door: each arriving document is scored against the
  * FROZEN raw/target hashed-bigram histograms of the training-corpus
  * snapshot (read from the durable `dsir_model` sidecar — the run
  * starts with NO corpus pass), and emits its (n_grams, logw,
  * selected) verdict — the "looks like the domain I want" gate a
  * crawl intake runs next to the d25/d28 dedup/quality admission,
  * computed AS documents arrive instead of in the t49 retrospective.
  *
  * Frozen-model contract (the s22/s28 upsert convention applied to
  * the selection family): arrivals NEVER update the histograms — the
  * model is a training-corpus artifact, retrained only when the
  * snapshot rebuilds — so every verdict depends on its own document
  * and the static 64-row table alone, and the union of per-batch
  * scores is bit-identical to the one-shot scoring of the same
  * arrivals (StreamingExtrasSpec pins it, plus the t49 equivalence:
  * the full corpus scored against its own model IS t49 row for row).
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite.
  *
  * Scale shape: per trigger, one tokenize+explode over the BATCH, a
  * 64-row broadcast join, and a per-doc fold bounded at 64 entries —
  * history is never rescanned, and the model rides one localCheckpoint
  * read at run start.
  */
object StreamingDsir {

  /** Start the job: `docs` is any streaming frame bearing
    * (doc_id, text); `indexDir` the sidecar root holding the
    * persisted `dsir_model` ([[graft.ops.TextOps.persistDsirModel]]).
    * Verdict rows (doc_id, n_grams, logw, selected) land under
    * `outDir/batch_id=<n>/`.
    */
  def run(docs: DataFrame, indexDir: String,
          outDir: String, checkpointDir: String): StreamingQuery = {
    val s = docs.sparkSession
    // 64 rows, read from disk ONCE at run start and pinned FOR THIS
    // RUN — unpersisted at termination by the shared door lifecycle;
    // nothing about the corpus is touched.
    val (model, reap) = ReapOnTerminate.tracked(s) { pin =>
      pin(graft.ops.TextOps.loadDsirModel(s, indexDir))
    }
    ReapOnTerminate.install(s,
      start = () => Door.sink(docs, outDir, checkpointDir) { (batch, _) =>
        graft.ops.TextOps.dsirScoreBatch(batch, model)
      },
      reap = reap)
  }
}
