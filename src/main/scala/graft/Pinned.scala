package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** One pinned checkpoint and the one way to free it: `df` is a
  * `localCheckpoint` of the frame it was made from, and [[release]]
  * unpersists exactly the blocks that checkpoint pinned.
  *
  * A local checkpoint keeps its blocks in the block manager until the
  * driver garbage-collects the RDD, which in a long session may be
  * never. Whoever takes a pin that does not live for the session
  * (a superseded loop round, a run-scoped door table, a fold's log
  * snapshot) releases it when done.
  *
  * The RDDs are read off the checkpointed plan's `LogicalRDD` leaves,
  * never from a diff of the session-global `getPersistentRDDs`: such a
  * diff also captures RDDs that another component pinned meanwhile,
  * and unpersisting those severs that component's lineage-free
  * checkpoint unrecoverably.
  */
final class Pinned private (val df: DataFrame, rdds: Seq[RDD[_]]) {

  /** Unpersist this checkpoint's blocks; `df` must not be read after. */
  def release(): Unit = rdds.foreach(_.unpersist(blocking = false))
}

object Pinned {

  def apply(frame: DataFrame): Pinned = {
    val cp = frame.localCheckpoint()
    new Pinned(cp, cp.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd })
  }
}
