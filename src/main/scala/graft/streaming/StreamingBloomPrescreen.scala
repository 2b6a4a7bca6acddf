package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming Bloom exact-dup prescreen — the d38 constant-memory gate
  * as a micro-batch door in front of the heavier admission jobs: each
  * arriving document is answered "definitely new" or "maybe seen"
  * from a STATIC Bloom filter over the historical digest set, so a
  * mostly-novel stream admits most documents without ever joining
  * the digest store (StreamingAdmission's cheapest stage, split out
  * the way d26 stages the cascade).
  *
  * Composition contract (asserted in StreamingExtrasSpec): the filter
  * and digest table are built once per run and never mutated, and
  * every verdict row depends only on its own document versus them —
  * the union of per-batch probes is bit-identical to the one-shot
  * probe of the same arrivals.
  *
  * Exactly-once: [[Door.sink]]'s batch-keyed overwrite.
  *
  * Scale shape: the filter build is one treeAggregate over history at
  * run START (at 100 TB: per-digest-range shard filters, the d38
  * scaladoc's composition); per-trigger cost is a narrow map over the
  * batch plus the batch-sized exact-arm join — history is never
  * rescanned.
  */
object StreamingBloomPrescreen {

  /** Start the job: `docs` is any streaming frame bearing
    * (doc_id, text); `histDocs` the static historical slice. Verdict
    * rows (doc_id, bloom_pos, exact_dup, definite_new) land under
    * `outDir/batch_id=<n>/`.
    */
  def run(docs: DataFrame, histDocs: DataFrame,
          outDir: String, checkpointDir: String,
          fpp: Double = 0.03): StreamingQuery = {
    val s = docs.sparkSession
    // Broadcast ONCE for the stream's lifetime (a plan-native literal
    // would re-embed the filter bytes in every trigger's task binary —
    // see the Broadcast bloomProbeBatch overload's justification), and
    // DESTROYED when this query terminates, so a session cycling many
    // prescreen runs never accumulates live filter copies.
    val (filterBytes, digests) = graft.ops.Dedup.bloomIndex(histDocs, fpp)
    val bc = s.sparkContext.broadcast(
      org.apache.spark.util.sketch.BloomFilter.readFrom(filterBytes))
    // Reaped exactly once at termination (or on a failed start) via
    // the shared door lifecycle — see [[ReapOnTerminate]] for the
    // registration-order and double-reap reasoning.
    ReapOnTerminate.install(s,
      start = () => Door.sink(docs, outDir, checkpointDir) { (batch, _) =>
        graft.ops.Dedup.bloomProbeBatch(batch, bc, digests)
      },
      reap = () => bc.destroy())
  }
}
