package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The one output policy every streaming door shares.
  *
  * Exactly-once: [[sink]] writes each micro-batch's output with a
  * keyed overwrite of its own `outDir/batch_id=<n>` directory.
  * `foreachBatch` plus the checkpoint gives at-least-once batch
  * execution: a batch whose offsets were logged but whose commit was
  * lost is replayed with the same id and the same input. The keyed
  * overwrite makes that replay land in the same place with the same
  * rows instead of appending duplicates, which upgrades the OUTPUT to
  * exactly-once. A plain `spark.read.parquet(outDir)` reassembles the
  * full output with the batch id as a partition column.
  *
  * Stateful doors whose fold is not idempotent keep the same promise
  * with per-batch state snapshots: batch n reads the snapshot batch
  * n−1 wrote ([[previous]]), folds its own rows, and overwrites
  * `stateDir/batch_id=<n>` ([[snapshot]]). A replayed batch re-reads
  * the UNCHANGED n−1 snapshot and rewrites identical bytes. The
  * restart specs force a replay by deleting the last commit marker and
  * check that the output is still exactly the batch answer.
  */
object Door {

  private val Prefix = "batch_id="

  /** `root/batch_id=<n>`: the one place the per-batch layout is named. */
  def dir(root: String, batchId: Long): String = s"$root/$Prefix$batchId"

  /** The ids n that have a `root/batch_id=<n>` directory. */
  def batchIds(fs: FileSystem, root: String): Seq[Long] =
    fs.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(Prefix))
      .map(_.getPath.getName.stripPrefix(Prefix).toLong)

  /** Start `frame` as a checkpointed query whose micro-batch `id`
    * writes `out(batch, id)` to `outDir/batch_id=<id>` (keyed
    * overwrite; see the object doc for why that is exactly-once).
    */
  def sink(frame: DataFrame, outDir: String, checkpointDir: String)(
      out: (DataFrame, Long) => DataFrame): StreamingQuery =
    frame.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        out(batch, batchId).write.mode("overwrite").parquet(dir(outDir, batchId))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Overwrite `stateDir/batch_id=<n>` with batch n's state and return
    * the snapshot read back. The write already materializes the state
    * durably, so a door that reads its state again this trigger (to
    * emit from it) reads these files: the state is computed once, and
    * no block stays pinned after the trigger, as a per-trigger
    * `localCheckpoint` would. The read passes the state's own schema,
    * so it needs no schema-inference job.
    */
  def snapshot(state: DataFrame, stateDir: String, batchId: Long): DataFrame = {
    val at = dir(stateDir, batchId)
    state.write.mode("overwrite").parquet(at)
    state.sparkSession.read.schema(state.schema).parquet(at)
  }

  /** The state snapshot batch `batchId − 1` wrote; `None` for batch 0.
    *
    * A missing snapshot means the checkpoint and the state root
    * disagree (stateDir cleaned while the checkpoint survived, or a
    * reused checkpoint pointed at a fresh stateDir). Folding onto
    * empty state would give wrong results with no error, and the raw
    * parquet path error is undiagnosable, so this fails with the
    * operator story instead.
    */
  def previous(s: SparkSession, stateDir: String, batchId: Long): Option[DataFrame] =
    if (batchId == 0L) None
    else {
      val prev = dir(stateDir, batchId - 1)
      require(graft.Tables.hasParquet(s, prev, recursive = true),
        s"state snapshot for batch ${batchId - 1} missing at $prev: " +
          "checkpoint and stateDir are out of sync (stateDir cleaned, " +
          "or a reused checkpoint against a fresh stateDir); restore " +
          "the snapshot or clear the checkpoint to restart from batch 0")
      Some(s.read.parquet(prev))
    }

  /** The RocksDB state-store provider `transformWithState` requires. */
  private val RocksDbKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `start` with the RocksDB provider set, then restore the
    * caller's setting. The provider binds when a query STARTS, so a
    * door that owns its start() wraps it here; a builder that returns
    * a Dataset ([[StreamTransitions.transitions]]) leaves this to
    * whoever starts the query.
    */
  def withRocksDb[T](s: SparkSession)(start: => T): T = {
    val prev = s.conf.getOption(RocksDbKey)
    s.conf.set(RocksDbKey, RocksDb)
    try start
    finally prev match {
      case Some(v) => s.conf.set(RocksDbKey, v)
      case None    => s.conf.unset(RocksDbKey)
    }
  }
}
