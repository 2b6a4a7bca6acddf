package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming TAKEDOWN door — the operational half of the unified
  * delete/takedown lifecycle (graft.ops.CorpusIndexes.TombLog): a
  * stream of delete requests (doc_id) drives `TombLog.append` against
  * a durable text probe index MID-STREAM, so a takedown wave lands
  * while the serving doors keep running. The serving side needs no
  * cooperation beyond what it already does: StreamingDedup /
  * StreamingAdmission re-resolve the index per trigger
  * (PerBatchIndex), and `Dedup.loadTextProbeIndex` masks every probe
  * table against ONE log snapshot — so the first trigger after a wave
  * serves rebuild-minus-deleted, without restarting either query.
  *
  * Per batch the door (1) reduces the wave to ids NOT already
  * tombstoned, (2) appends them to the log, and (3) emits ONE audit
  * row — the d46 discipline: a takedown is a compliance event, the
  * artifact trail is the product. The audit's index-state columns are
  * computed from the POST-APPEND state, not the delta, which is what
  * makes a crash-replayed batch idempotent: re-appending a wave that
  * already landed appends nothing (the anti-join sees the log the
  * crashed attempt wrote), and state-derived counts recompute
  * identically, so [[Door.sink]]'s batch-keyed overwrite rewrites the
  * same bytes.
  *
  * Ordering/concurrency: appends to the log are serialized BY THE
  * DOOR (one micro-batch at a time — the lifecycle's maintenance-
  * window contract held by construction); the serving queries only
  * READ the log. The fold (compactTextProbeIndex) stays a maintenance
  * operation outside this door, run when the door is idle.
  *
  * Scale shape: the wave is batch-sized; the anti-join and the append
  * are bucketed on the log's serve key; the audit is two counts over
  * the log and one over the masked md5 store — nothing scales with
  * the corpus beyond the bucketed probe reads the serving path
  * already pays.
  */
object StreamingTakedown {

  /** One audit row from the post-append state — exposed so tests can
    * pin replay idempotence against the door's own output.
    */
  def auditBatch(s: SparkSession, indexDir: String,
                 nArrived: Long, nNew: Long): DataFrame = {
    import s.implicits._
    val nTombstones = graft.ops.Dedup.loadTextProbeTombstones(s, indexDir)
      .map(_.count()).getOrElse(0L)
    val nServedMd5 = graft.ops.Dedup.loadTextProbeIndex(s, indexDir)
      .md5s.count()
    Seq((nArrived, nNew, nTombstones, nServedMd5))
      .toDF("n_arrived", "n_new_tombstones", "n_tombstones_total",
        "n_docs_served")
  }

  /** Start the door: `deletes` is any streaming frame bearing
    * (doc_id); audit rows land under `outDir/batch_id=<n>/`.
    */
  def run(deletes: DataFrame, indexDir: String, outDir: String,
          checkpointDir: String): StreamingQuery =
    Door.sink(deletes, outDir, checkpointDir) { (batch, _) =>
      val s = batch.sparkSession
      val arrivals = batch.select(col("doc_id")).distinct()
      // pin the not-yet-tombstoned set BEFORE appending: the append
      // job must not scan the very log generation it is extending
      // through a lazy anti-join (and a replayed wave must observe
      // the log state its crashed attempt left, not a moving one)
      val newIds = graft.ops.Dedup.loadTextProbeTombstones(s, indexDir)
        .map(t => arrivals.join(
          t.withColumnRenamed("hist_doc", "doc_id"), Seq("doc_id"),
          "left_anti"))
        .getOrElse(arrivals)
        .localCheckpoint()
      val nArrived = arrivals.count()
      val nNew = newIds.count()
      if (nNew > 0L)
        graft.ops.Dedup.deleteFromTextProbeIndex(newIds, indexDir)
      auditBatch(s, indexDir, nArrived, nNew)
    }
}
