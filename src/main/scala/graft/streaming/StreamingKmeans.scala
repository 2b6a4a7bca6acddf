package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.VectorFunctions._

/** Streaming k-means — CONTINUOUS codebook refresh: micro-batches of
  * arriving (vec_id, embedding) vectors update per-(cell, dim, seg)
  * running sums against a FIXED seed codebook, and every batch
  * finalizes the refreshed codebook — the s15 Lloyd step kept warm as
  * data arrives, the last streaming-family member (text dedup, image
  * dedup, ANN, top-k, admission, now codebook training).
  *
  * BIT-exact composition to the batch step (asserted in
  * StreamingExtrasSpec): the s15 segmented fold is a LEFT fold in
  * vec_id order within each (cell, dim, vec_id % 256) segment. A left
  * fold composes exactly across any in-order batch partitioning —
  * fold(fold(0, b1), b2) = fold(0, b1 ++ b2) — PROVIDED each arriving
  * batch's values fold INTO the running sum as the fold's initial
  * value (summing per-batch partial sums would re-associate:
  * a + (b + c) ≠ (a + b) + c in floats). So the per-batch update is
  * `aggregate(sorted_batch_values, state_sum, +)`, never
  * `state_sum + batch_sum`, and on an in-order feed the emitted
  * codebook is bit-identical to [[graft.ops.Similarity.kmeansStep]]
  * over everything that has arrived.
  *
  * Exactly-once under replay: folding is NOT idempotent, so the
  * running state goes through the [[Door]] snapshot fold — batch n
  * folds its rows into the `stateDir` snapshot of batch n−1
  * ([[Door.previous]]) and overwrites its own. The restart test forces
  * the replay and proves it.
  *
  * Scale shape: assignment is the broadcast-codebook narrow argmax
  * (batch-sized); the state is K·64·256 rows — codebook-scale,
  * CONSTANT in corpus size; each trigger costs one batch-sized
  * aggregate plus one state-sized merge join. At 100 TB the state
  * lives as a tiny parquet next to the checkpoint, exactly as here.
  */
object StreamingKmeans {

  /** The fixed seed codebook (cell_id, c_emb, c_nrm): the 16 lowest-id
    * vectors of the historical corpus — the s04/s15 convention.
    */
  def seedCodebook(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.embeddings(s, dir)
      .filter($"vec_id" < 16)
      .select($"vec_id".as("cell_id"), $"embedding".as("c_emb"),
        vec_norm($"embedding").as("c_nrm"))
      .localCheckpoint()
  }

  /** Assign a batch to seed cells — the ivfAssigned argmax (cosine
    * desc, cell_id tiebreak) applied to arriving vectors.
    */
  private def assignBatch(batch: DataFrame, seed: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val aw = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cell_id")
    batch.crossJoin(broadcast(seed))
      .withColumn("nrm", vec_norm($"embedding"))
      .withColumn("ccos", cosinePrenormed(vec_dot($"embedding", $"c_emb"), $"nrm", $"c_nrm"))
      .withColumn("arank", row_number().over(aw))
      .filter($"arank" === 1)
      .select($"vec_id", $"embedding", $"cell_id")
  }

  /** One batch's (cell, dim, seg) contributions: values sorted by
    * vec_id within the segment — the s15 inner-fold order, kept as an
    * ARRAY so the state merge can fold them one by one.
    */
  private def batchSegments(assigned: DataFrame): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    assigned
      .select($"cell_id", $"vec_id", posexplode($"embedding"))
      .select($"cell_id", $"vec_id", $"pos".cast("long").as("dim"),
        $"col".cast("double").as("x"))
      .withColumn("seg", $"vec_id" % 256)
      .groupBy($"cell_id", $"dim", $"seg")
      .agg(count(lit(1)).as("n_new"),
        expr("transform(sort_array(collect_list(struct(vec_id, x))), v -> v.x)").as("xs"))
  }

  /** Fold a batch into the running state. State rows are
    * (cell_id, dim, seg, n_seg, s_seg); the batch's ordered values
    * fold in with the state sum as the fold INIT — the composition
    * that keeps the running sum bit-identical to one batch fold.
    */
  private def mergeState(state: DataFrame, batchSegs: DataFrame): DataFrame = {
    val s = batchSegs.sparkSession
    import s.implicits._
    state.join(batchSegs, Seq("cell_id", "dim", "seg"), "full_outer")
      .select($"cell_id", $"dim", $"seg",
        (coalesce($"n_seg", lit(0L)) + coalesce($"n_new", lit(0L))).as("n_seg"),
        expr("aggregate(coalesce(xs, array()), coalesce(s_seg, 0D), (a, v) -> a + v)")
          .as("s_seg"))
  }

  /** Finalize the refreshed codebook from the state: the s15 outer
    * fold (segment sums in seg order) and the seed join, emitting
    * exactly kmeansStep's (cell_id, dim, old_c, new_c, n_members).
    */
  private def finalizeCodebook(state: DataFrame, seed: DataFrame): DataFrame = {
    val s = state.sparkSession
    import s.implicits._
    val updated = state.groupBy($"cell_id", $"dim")
      .agg(sum($"n_seg").as("n_members"),
        expr("aggregate(transform(sort_array(collect_list(struct(seg, s_seg))), v -> v.s_seg), 0D, (a, v) -> a + v)").as("x_sum"))
      .withColumn("new_c", $"x_sum" / $"n_members".cast("double"))
    val seedDims = seed
      .select($"cell_id", posexplode(expr("transform(c_emb, x -> CAST(x AS DOUBLE))")))
      .select($"cell_id", $"pos".cast("long").as("dim"), $"col".as("old_c"))
    updated.join(broadcast(seedDims), Seq("cell_id", "dim"))
      .select($"cell_id", $"dim", $"old_c", $"new_c", $"n_members")
  }

  /** Run one micro-batch against an explicit prior state — exposed so
    * the spec can drive the identical frame transform batch by batch.
    * Returns (new state, refreshed codebook).
    */
  def step(batch: DataFrame, state: DataFrame,
           seed: DataFrame): (DataFrame, DataFrame) = {
    val merged = mergeState(state, batchSegments(assignBatch(batch, seed)))
    (merged, finalizeCodebook(merged, seed))
  }

  /** Empty state frame with the right schema. */
  def emptyState(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(Long, Long, Long, Long, Double)]
      .toDF("cell_id", "dim", "seg", "n_seg", "s_seg")
  }

  /** Start the job: `vectors` is a streaming frame of
    * (vec_id, embedding); `seed` the fixed codebook; per batch the
    * state snapshot lands under `stateDir/batch_id=<n>` and the
    * refreshed codebook under `outDir/batch_id=<n>` — both keyed
    * overwrites, so an at-least-once replay rewrites the same bytes.
    */
  def run(vectors: DataFrame, seed: DataFrame, outDir: String,
          stateDir: String, checkpointDir: String): StreamingQuery = {
    val session = vectors.sparkSession
    Door.sink(vectors, outDir, checkpointDir) { (batch, batchId) =>
      val prev = Door.previous(session, stateDir, batchId)
        .getOrElse(emptyState(session))
      val (state, codebook) = step(batch, prev, seed)
      Door.snapshot(state, stateDir, batchId)
      codebook
    }
  }
}
