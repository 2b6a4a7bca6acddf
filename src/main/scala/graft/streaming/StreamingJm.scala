package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming JM quality filter — t54's interpolated bigram-LM
  * perplexity gate as an ingest door, the QUALITY companion to
  * [[StreamingDsir]]'s selection gate: each arriving document scores
  * against the FROZEN reference-slice model (unigram / bigram /
  * context tables read from the durable `jm_{uni,bg,ctx}` sidecars —
  * the run starts with NO corpus pass; smoothing totals re-derive
  * from the 31-row unigram table) and is kept or dropped against the
  * FROZEN threshold the campaign shipped with the snapshot (t54's
  * median, computed offline — a per-window median would make
  * verdicts depend on batch boundaries).
  *
  * Frozen-model contract (the s22/s28 convention): arrivals never
  * update the model, so every verdict depends on its own document
  * and the static tables alone — per-batch score unions are
  * bit-identical to the one-shot scoring of the same arrivals
  * (StreamingExtrasSpec pins it against the batch t54 core).
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite.
  *
  * Scale shape: per trigger one tokenize+bigram explode over the
  * BATCH reduced to per-(doc, bigram) counts before the
  * vocabulary-sized broadcast joins; history is never rescanned.
  */
object StreamingJm {

  /** Start the job: `docs` is any streaming frame bearing
    * (doc_id, text); `indexDir` holds the persisted model
    * ([[graft.ops.TextOps.persistJmModel]]); `barCell` is the frozen
    * quantized keep bar (t54's registered rule — a raw double
    * threshold would diverge from the certified rule for novel
    * arrivals at the cell boundary). Verdict rows (doc_id, n_bigrams,
    * n_oov, nll, avg_nll, keep) land under `outDir/batch_id=<n>/`.
    */
  def run(docs: DataFrame, indexDir: String, barCell: Long,
          outDir: String, checkpointDir: String): StreamingQuery = {
    val s = docs.sparkSession
    // Vocabulary-sized tables, read from disk ONCE at run start and
    // pinned FOR THIS RUN — unpersisted at termination by the shared
    // door lifecycle.
    val ((u, b, c), reap) = ReapOnTerminate.tracked(s) { pin =>
      val (runi, rbg, ctx) = graft.ops.TextOps.loadJmModel(s, indexDir)
      (pin(runi), pin(rbg), pin(ctx))
    }
    ReapOnTerminate.install(s,
      start = () => Door.sink(docs, outDir, checkpointDir) { (batch, _) =>
        graft.ops.TextOps.jmScoreDocs(batch, u, b, c, barCell)
      },
      reap = reap)
  }
}
