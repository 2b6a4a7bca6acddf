package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Regression for the tracked() reap-set race: the original
  * implementation diffed the session-global getPersistentRDDs map
  * around `body`, so an RDD pinned CONCURRENTLY by another component
  * (a second door starting in parallel, a CorpusIndexes.memo build)
  * landed in the reap set and termination unpersisted it — severing a
  * lineage-free localCheckpoint unrecoverably. The fix collects pins
  * explicitly off each checkpointed plan's LogicalRDD leaf; this spec
  * pins a foreign checkpoint while a tracked body runs and proves the
  * reap releases exactly the body's own pins.
  */
class ReapTrackedSpec extends AnyFunSuite {

  private def backingRdd(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }.head

  test("tracked reaps exactly its own pins; a concurrent foreign checkpoint survives") {
    val spark = TestSpark.spark
    import spark.implicits._
    // A foreign component's checkpoint, pinned while the tracked body
    // runs (the interleaving the diff-based version mis-captured).
    val foreign = Seq(1L, 2L, 3L).toDF("x").localCheckpoint()
    val foreignRdd = backingRdd(foreign)
    try {
      val ((a, b), reap) =
        graft.streaming.ReapOnTerminate.tracked(spark) { pin =>
          val first = pin(Seq(4L, 5L).toDF("x"))
          // interleave another foreign pin INSIDE the body's window —
          // the exact case the global diff could not distinguish
          val mid = Seq(9L).toDF("x").localCheckpoint()
          (first, (pin(Seq(6L).toDF("x")), mid))
        }
      val (second, mid) = b
      val (aRdd, sRdd, midRdd) = (backingRdd(a), backingRdd(second), backingRdd(mid))
      val persisted = spark.sparkContext.getPersistentRDDs
      assert(persisted.contains(aRdd.id) && persisted.contains(sRdd.id))
      try {
        reap()
        val after = spark.sparkContext.getPersistentRDDs
        // its own pins are released...
        assert(!after.contains(aRdd.id), "tracked pin survived its reap")
        assert(!after.contains(sRdd.id), "tracked pin survived its reap")
        // ...both foreign checkpoints stay pinned and still compute
        assert(after.contains(foreignRdd.id), "pre-existing foreign pin reaped")
        assert(after.contains(midRdd.id), "interleaved foreign pin reaped")
        assert(foreign.count() == 3L && mid.count() == 1L)
      } finally midRdd.unpersist(false)
    } finally foreignRdd.unpersist(false)
  }

  /** Start a door, run one batch, take a foreign checkpoint while it
    * runs, stop it. The pins the door took for its run must be gone
    * after the stop (the reap runs on a listener thread, so poll);
    * the foreign checkpoint must survive and still compute.
    */
  private def releasesItsPins(door: String)(start: () => StreamingQuery)
                             (feed: () => Unit): Unit = {
    val spark = TestSpark.spark
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val q = start()
    val (doorPins, foreign) =
      try {
        feed(); q.processAllAvailable()
        (sc.getPersistentRDDs.keySet -- before, Seq(7L).toDF("x").localCheckpoint())
      } finally q.stop()
    val foreignRdd = backingRdd(foreign)
    try {
      assert(doorPins.nonEmpty, s"$door pinned nothing for its run")
      def held = sc.getPersistentRDDs.keySet & doorPins
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (held.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(held.isEmpty, s"$door pins ${held.mkString(",")} survived its query")
      assert(sc.getPersistentRDDs.contains(foreignRdd.id), s"$door reaped a foreign pin")
      assert(foreign.count() == 1L)
    } finally foreignRdd.unpersist(false)
  }

  test("StreamingAnn, StreamingAnnIngest and StreamingSpanDedup release their run pins at termination") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Similarity
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val dir = TestSpark.sfDir
    val vecs = Tables.embeddings(spark, dir).filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    // built (and their session sidecars memoized) before the doors start,
    // so every pin taken during a run is the door's own
    val index = Similarity.ivfIndex(spark, dir)
    val root = tmp("graft-reap-ivf")
    Similarity.persistIvfIndex(index, root)

    val queries = MemoryStream[(Long, Array[Float])]
    releasesItsPins("StreamingAnn")(() => graft.streaming.StreamingAnn.run(
      queries.toDF().toDF("q_id", "embedding"), index,
      tmp("graft-reap-ann-out"), tmp("graft-reap-ann-ckpt")))(
      () => queries.addData(vecs))

    val arrivals = MemoryStream[(Long, Array[Float])]
    releasesItsPins("StreamingAnnIngest")(() => graft.streaming.StreamingAnnIngest.run(
      arrivals.toDF().toDF("vec_id", "embedding"), root,
      tmp("graft-reap-anni-delta"), tmp("graft-reap-anni-ckpt")))(
      () => arrivals.addData(vecs))

    val docs = MemoryStream[(Long, String)]
    releasesItsPins("StreamingSpanDedup")(() => graft.streaming.StreamingSpanDedup.run(
      docs.toDF().toDF("doc_id", "text"), spark.range(100).toDF("g"),
      tmp("graft-reap-span-out"), tmp("graft-reap-span-ckpt")))(
      () => docs.addData((1L, "a plain arriving document")))
  }
}
