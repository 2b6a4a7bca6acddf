package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming CAMPAIGN door — the composed ingest pipeline: every
  * per-document gate the streaming family ships solo
  * ([[StreamingAdmission]]'s quality/dedup/decontam cascade,
  * [[StreamingJm]]'s frozen-threshold perplexity gate,
  * [[StreamingDsir]]'s frozen-histogram selection gate) chained under
  * c01's first-failing-gate discipline over ONE shared `indexDir` —
  * the door a 100 TB crawl intake actually runs: one verdict row per
  * arriving document with the stage that killed it (or `kept`), so
  * the per-batch outputs aggregate directly into the campaign funnel.
  *
  * The 23 solo doors are each certified batch-equivalent; this door
  * certifies they COMPOSE: every gate depends only on its own
  * document versus the frozen sidecars, so the union of per-batch
  * composed verdicts is bit-identical to the one-shot batch chain
  * ([[graft.ops.Curation.campaignProbeBatch]]) AND to the solo doors'
  * outputs composed by the same precedence (StreamingExtrasSpec pins
  * both, through a forced replay).
  *
  * Frozen-snapshot contract: all structures read from `indexDir` once
  * at run start — the dedup probe index
  * ([[graft.ops.Dedup.persistTextProbeIndex]]), the `bench_grams`
  * sidecar, the JM model ([[graft.ops.TextOps.persistJmModel]]) with
  * its campaign-shipped threshold, and the DSIR model
  * ([[graft.ops.TextOps.persistDsirModel]]). Arrivals never update
  * any of them; the run starts with NO corpus pass.
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite.
  *
  * Scale shape: per trigger each gate keeps its audited solo plan
  * (batch-vs-bucketed-index equi-joins; broadcast gram set;
  * vocabulary-sized model broadcasts) plus three batch-cardinality
  * left joins on doc_id; history is never rescanned.
  *
  * SNAPSHOT-FROZEN by design — deliberately NOT the PerBatchIndex
  * takedown discipline the solo doors run: the campaign's five gates
  * are certified AGAINST EACH OTHER on one snapshot (the quantized JM
  * bar is the median of the snapshot's scores; DSIR weights are the
  * snapshot's histograms), so honoring a mid-run index mutation would
  * let the dedup gate see a newer corpus than the bar that gates it —
  * mutually inconsistent verdicts with no certifying oracle. Takedowns
  * reach a campaign the way everything else does: a new snapshot and
  * a rotation (the spec's snapshot-rotation second generation); the
  * solo doors exist for the serve-latest use case.
  */
object StreamingCampaign {

  /** [[run]] with every frozen input — including the keep bar — read
    * from a [[graft.ops.Curation.persistCampaignSnapshot]] root: the
    * zero-argument production form (snapshot rotation swaps roots
    * between runs; nothing else changes).
    */
  def runFromSnapshot(docs: DataFrame, indexDir: String,
                      outDir: String, checkpointDir: String): StreamingQuery =
    run(docs, indexDir,
      graft.ops.Curation.loadCampaignBarCell(docs.sparkSession, indexDir),
      outDir, checkpointDir)

  /** Start the job: `docs` is any streaming frame bearing
    * (doc_id, text); `indexDir` the shared snapshot root; `jmBarCell`
    * the frozen t54 quantized keep bar the campaign shipped. Verdict
    * rows (doc_id, gate flags, avg_nll, logw, stage, admit) land
    * under `outDir/batch_id=<n>/`.
    */
  def run(docs: DataFrame, indexDir: String, jmBarCell: Long,
          outDir: String, checkpointDir: String): StreamingQuery = {
    val s = docs.sparkSession
    // All frozen structures load ONCE at run start. The model tables
    // are vocabulary-sized and pin as checkpoints FOR THIS RUN — the
    // shared door lifecycle unpersists them when the query terminates,
    // so a session rotating snapshots never accumulates dead blocks.
    // The dedup probe index reads as bucketed disk tables per trigger
    // (batch-sized probe joins against them — pinning corpus-scale
    // bands in memory would be wrong at 100 TB).
    val idx = graft.ops.Dedup.loadTextProbeIndex(s, indexDir)
    val ((grams, u, b, c, dsir), reap) = ReapOnTerminate.tracked(s) { pin =>
      val grams = pin(graft.ops.CorpusIndexes
        .readSidecar(s, indexDir, "bench_grams"))
      val (runi, rbg, ctx) = graft.ops.TextOps.loadJmModel(s, indexDir)
      (grams, pin(runi), pin(rbg), pin(ctx),
        pin(graft.ops.TextOps.loadDsirModel(s, indexDir)))
    }
    ReapOnTerminate.install(s,
      start = () => Door.sink(docs, outDir, checkpointDir) { (batch, _) =>
        graft.ops.Curation
          .campaignProbeBatch(batch, idx, grams, u, b, c, jmBarCell, dsir)
      },
      reap = reap)
  }
}
