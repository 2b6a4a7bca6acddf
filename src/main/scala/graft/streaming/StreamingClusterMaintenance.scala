package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextHashes.minhash_bands

/** Streaming cluster-label maintenance — the d32 contraction kept warm
  * as batches land: each micro-batch of arriving (doc_id, text) docs
  * probes the STATIC capped historical band index, contracts its probe
  * edges against the STATIC historical labeling, and folds the merges
  * into a running label table — the persisted sidecar a dedup service
  * updates per ingest tick instead of re-running corpus CC.
  *
  * COMPOSITION to the batch op (asserted in StreamingExtrasSpec): the
  * maintained state is a union-find parent table over contracted nodes
  * (arrival ids + historical label nodes) with union-by-min, and
  * min-label connected components are EDGE-ORDER-FREE — the final
  * labels depend only on the union of edges, not the batch
  * partitioning — so after any split of the arrival slice,
  * `Dedup.maintenanceVerdicts(state, histLabels)` equals batch d32 bit
  * for bit. (Contrast StreamingKmeans, whose float fold needs in-order
  * feeds; union-find needs nothing.)
  *
  * Exactly-once under replay: folding merges into state is not
  * idempotent, so the parent table goes through the [[Door]] snapshot
  * fold — batch n folds into the `stateDir` snapshot of batch n−1
  * ([[Door.previous]]) and overwrites its own. The restart test forces
  * the replay and proves it.
  *
  * Scale shape: the per-batch probe is one equi-join of the batch's
  * band keys against the pre-capped disk-resident index (batch-sized);
  * the union-find folds BATCH-SIZED edge sets into state bounded by
  * touched components + arrivals — never corpus-sized. At 100 TB the
  * state is the keyed label-override table next to the checkpoint, and
  * the periodic compaction folds it into the persisted label sidecar
  * (the index-lifecycle discipline).
  */
object StreamingClusterMaintenance {

  /** One batch's (new_doc, hist_doc) probe edges against the static
    * capped band index — the d32 probe shape, batch side hashed here.
    */
  def probeEdges(batch: DataFrame, cappedHistBands: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    batch.select($"doc_id", posexplode(minhash_bands($"text")))
      .select($"pos".as("band"), $"col".as("bkey"), $"doc_id")
      .join(cappedHistBands, Seq("band", "bkey"))
      .select($"doc_id".as("new_doc"), $"hist_doc").distinct()
  }

  /** Fold one batch into the maintained parent table. `prev` maps every
    * touched contracted node to its current component minimum; the
    * batch's attach edges (arrival ↔ historical label node) merge in
    * with union-by-min + path compression — the same fast-path
    * union-find the batch CC gate runs, applied incrementally.
    */
  def step(batch: DataFrame, histLabels: DataFrame, cappedHistBands: DataFrame,
           prev: Array[(Long, Long)]): Array[(Long, Long)] = {
    val s = batch.sparkSession
    import s.implicits._
    val edges = probeEdges(batch, cappedHistBands)
      .join(histLabels.toDF("hist_doc", "hist_lbl"), Seq("hist_doc"), "left")
      .select($"new_doc", coalesce($"hist_lbl", $"hist_doc").as("lbl_node"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    prev.foreach { case (n, l) => parent(n) = l; parent.getOrElseUpdate(l, l) }
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keysIterator.toArray.sorted.map(n => (n, find(n)))
  }

  /** The maintained state as the d32 contracted labeling — feed it to
    * [[graft.ops.Dedup.maintenanceVerdicts]] to materialize the full
    * verdict rows.
    */
  def stateFrame(s: SparkSession, state: Array[(Long, Long)]): DataFrame = {
    import s.implicits._
    s.sparkContext
      .parallelize(state.toSeq, math.max(1, s.sparkContext.defaultParallelism / 4))
      .toDF("doc_id", "cluster_id")
  }

  /** Start the job: `newDocs` streams (doc_id, text); the static side
    * (capped band index + historical labels) is materialized once per
    * run. Per batch the parent-table snapshot lands under
    * `stateDir/batch_id=<n>` (keyed overwrite — replay rewrites the
    * same bytes) and the same rows under `outDir/batch_id=<n>` as the
    * tick's published label table.
    *
    * `labelsRoot`: when set AND a prior [[foldIntoSidecar]] persisted
    * a table there, the historical labeling is served from that
    * durable folded sidecar instead of being re-derived from the
    * corpus — the post-fold generation's serve path (contraction
    * against CURRENT labels is what makes folds compose, see
    * `Dedup.foldMaintenanceLabels`).
    */
  def run(newDocs: DataFrame, dir: String, outDir: String, stateDir: String,
          checkpointDir: String, cap: Int = 64,
          labelsRoot: Option[String] = None): StreamingQuery = {
    val session = newDocs.sparkSession
    val bands = graft.ops.Dedup.clusterMaintenanceBands(session, dir, cap)
    val labels = labelsRoot
      .filter(r => graft.ops.Dedup.hasMaintLabels(session, r))
      .map(r => graft.ops.Dedup.loadMaintLabels(session, r))
      .getOrElse(graft.ops.Dedup.histClusterLabels(session, dir, cap))
    Door.sink(newDocs, outDir, checkpointDir) { (batch, batchId) =>
      val prev = Door.previous(session, stateDir, batchId)
        .fold(Array.empty[(Long, Long)])(
          _.collect().map(r => (r.getLong(0), r.getLong(1))))
      val sf = stateFrame(session, step(batch, labels, bands, prev)).coalesce(1)
      Door.snapshot(sf, stateDir, batchId)
      sf
    }
  }

  /** FOLD the accumulated per-batch state into the durable label
    * sidecar and reset the snapshots — the maintenance pass that
    * bounds the door's driver-held state by the fold CADENCE instead
    * of the stream lifetime (every other index family's
    * persist→refresh→compact lifecycle, applied to the label table).
    * Reads the LATEST `stateDir/batch_id=<n>` snapshot, folds it into
    * the historical labeling (served from `labelsRoot` if a prior
    * fold persisted one, else derived from the corpus), overwrites
    * `labelsRoot/maint_labels`, and deletes every per-batch snapshot.
    * A subsequent [[run]] against a FRESH checkpoint starts from
    * batch 0 with empty state, contracting new arrivals against the
    * folded table — the generation handoff.
    *
    * Must run between streams (the door stopped): it deletes the
    * snapshots a live run's next batch would read.
    */
  def foldIntoSidecar(s: SparkSession, dir: String, stateDir: String,
                      labelsRoot: String, cap: Int = 64): Unit = {
    val p = new org.apache.hadoop.fs.Path(stateDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"foldIntoSidecar: state dir $stateDir does not exist")
    val ids = Door.batchIds(fs, stateDir)
    require(ids.nonEmpty,
      s"foldIntoSidecar: no batch_id=<n> snapshots under $stateDir")
    val state = s.read.parquet(Door.dir(stateDir, ids.max))
    val hist =
      if (graft.ops.Dedup.hasMaintLabels(s, labelsRoot))
        graft.ops.Dedup.loadMaintLabels(s, labelsRoot)
      else graft.ops.Dedup.histClusterLabels(s, dir, cap)
    // Materialize BEFORE the overwrite: on a second-generation fold the
    // folded frame reads the very table persistMaintLabels rewrites.
    val folded = graft.ops.Dedup.foldMaintenanceLabels(state, hist)
      .localCheckpoint()
    graft.ops.Dedup.persistMaintLabels(folded, labelsRoot)
    ids.foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(Door.dir(stateDir, id)), true)
    }
  }
}
