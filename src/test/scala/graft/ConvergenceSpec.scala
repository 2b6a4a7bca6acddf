package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** Adversarial convergence proof for the connected-components pointer
  * jumping (d11/d13): on worst-case chain graphs — diameter in the
  * hundreds, component minimum at one END of the chain, so min-label
  * needs the full diameter under one-hop propagation — the round count
  * must stay logarithmic. One-hop propagation would need ~d rounds
  * (measured at 295 s / unconverged-at-64 before the round-3 fix);
  * pointer jumping doubles the reached distance per round.
  *
  * The driver-side loop only ever materializes ONE scalar per round
  * (the label-sum fixpoint witness, Dedup.connectedComponentsWithRounds)
  * — the labels themselves live in executor partitions behind a
  * localCheckpoint; nothing here collects them except the final
  * assertion readback.
  */
class ConvergenceSpec extends AnyFunSuite {

  private def bound(diameter: Int): Int =
    (math.log(diameter) / math.log(2)).ceil.toInt + 2

  /** Path graph over explicit node ids: ids(k) — ids(k+1). */
  private def chain(ids: Seq[Long]) = {
    val spark = TestSpark.spark
    import spark.implicits._
    ids.zip(ids.tail).toDF("doc_a", "doc_b")
  }

  test("identity chain of diameter 300 converges in <= ceil(log2 d) + 2 rounds") {
    val spark = TestSpark.spark
    val d = 300
    val (labels, rounds) =
      Dedup.connectedComponentsWithRounds(spark, chain(0L.to(d.toLong)), driverMaxEdges = 0L)
    assert(rounds <= bound(d), s"took $rounds rounds, bound ${bound(d)}")
    val rows = labels.collect()
    assert(rows.length == d + 1)
    rows.foreach(r => assert(r.getLong(1) == 0L, s"node ${r.getLong(0)} not labeled 0"))
  }

  test("descending chain (minimum at the far end) stays within the bound") {
    val spark = TestSpark.spark
    val d = 300
    // Path v_0 - v_1 - ... - v_d with v_k = d - k: the minimum (0) sits
    // at the end opposite to where the largest ids cluster.
    val (labels, rounds) =
      Dedup.connectedComponentsWithRounds(spark, chain(d.toLong.to(0L, -1L)), driverMaxEdges = 0L)
    assert(rounds <= bound(d), s"took $rounds rounds, bound ${bound(d)}")
    labels.collect().foreach(r => assert(r.getLong(1) == 0L))
  }

  test("superseded checkpoint blocks are freed: only the final label table stays pinned") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (labels, rounds) =
      Dedup.connectedComponentsWithRounds(spark, chain(0L.to(300L)), driverMaxEdges = 0L)
    labels.write.format("noop").mode("overwrite").save()
    // The loop checkpoints pairs + edges + seed + one table per round;
    // everything superseded must be unpersisted by the time it returns.
    // Only the final label table (referenced by the returned plan) may
    // remain — without the explicit frees this is 3 + rounds tables.
    val leaked = (sc.getPersistentRDDs.keySet -- before).size
    assert(rounds >= 2, s"degenerate run ($rounds rounds) cannot witness the leak")
    assert(leaked <= 1, s"$leaked checkpointed RDD sets still pinned after convergence")
  }

  test("BPE training frees every checkpoint: bpeMergesFrame leaves nothing pinned") {
    val spark = TestSpark.spark
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = Seq("aaa aaa abab low lower lowest", "low low newer newest")
      .toDF("text")
    val before = sc.getPersistentRDDs.keySet
    // six merges: seven checkpointed vocabulary tables (the seed and
    // one per round), each released once superseded or, for the last,
    // once the merge list is taken
    val merges = graft.ops.TextOps.bpeMergesFrame(spark, docs, 6).collect()
    assert(merges.length == 6, "a short run cannot witness the frees")
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"${leaked.size} BPE checkpoint RDDs still pinned")
  }

  test("driver union-find fast path labels bit-identically to the distributed loop") {
    val spark = TestSpark.spark
    import spark.implicits._
    // Adversarial mix: two descending chains (minimum at the far end),
    // a star, a triangle with a pendant, and self-contained pairs —
    // collected via the fast path (default threshold) and via the loop
    // (threshold 0), labels must match exactly.
    val edges = chain(300L.to(0L, -1L))
      .union(chain(Seq(1000L, 900L, 800L, 700L)))
      .union(Seq((2000L, 2001L), (2000L, 2002L), (2000L, 2003L),
        (3000L, 3001L), (3001L, 3002L), (3002L, 3000L), (3002L, 3003L),
        (4000L, 4001L)).toDF("doc_a", "doc_b"))
    def labelsOf(threshold: Long): Map[Long, Long] =
      Dedup.connectedComponentsWithRounds(spark, edges, driverMaxEdges = threshold)
        ._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = labelsOf(Long.MaxValue)
    val loop = labelsOf(0L)
    assert(fast == loop)
    assert(fast(300L) == 0L && fast(700L) == 700L && fast(2003L) == 2000L &&
      fast(3003L) == 3000L && fast(4001L) == 4000L)
  }

  test("a graph just above the driver gate takes the loop, labels equal to the fast path") {
    val spark = TestSpark.spark
    import spark.implicits._
    // The gate boundary the equivalence test above never crosses: the
    // DEFAULT threshold (1e6) with a measured edge count just past it.
    // 1,000,001 disjoint pairs give the mass; a 4-chain with its
    // minimum at the far end forces real pointer-jumping rounds.
    val pairs = spark.range(1000001L)
      .select(($"id" * 2).as("doc_a"), ($"id" * 2 + 1).as("doc_b"))
    val edges = pairs.union(chain(Seq(3000003L, 3000002L, 3000001L, 3000000L)))
    val (loopLabels, rounds) = Dedup.connectedComponentsWithRounds(spark, edges)
    assert(rounds > 0,
      "an edge count above the gate must take the distributed loop, not collect")
    val (fastLabels, fastRounds) =
      Dedup.connectedComponentsWithRounds(spark, edges, driverMaxEdges = Long.MaxValue)
    assert(fastRounds == 0)
    // Bit-identical labeling across the gate on the SAME >1e6-edge
    // graph (the small-graph equivalence test can't witness this side).
    assert(loopLabels.except(fastLabels).count() == 0)
    assert(fastLabels.except(loopLabels).count() == 0)
    val chainLabels = loopLabels.filter($"doc_id" >= 3000000L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainLabels == Seq(3000000L, 3000001L, 3000002L, 3000003L)
      .map(_ -> 3000000L).toMap)
  }

  test("a scored 3-column edge frame survives the distributed loop (d33 shape)") {
    val spark = TestSpark.spark
    import spark.implicits._
    // d33 hands connectedComponents the (doc_a, doc_b, jaccard) scored
    // frame. The driver fast path always read positionally and worked;
    // the distributed loop's symmetrizing self-union was positional and
    // 3-vs-2 columns — this pins the normalization that fixed it, on
    // BOTH sides of the gate.
    val scored = Seq((10L, 11L, 0.97), (11L, 12L, 0.31), (20L, 21L, 0.99))
      .toDF("doc_a", "doc_b", "jaccard")
    def labelsOf(threshold: Long): Map[Long, Long] =
      Dedup.connectedComponentsWithRounds(spark, scored, driverMaxEdges = threshold)
        ._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(labelsOf(0L) == expected, "distributed loop over a scored frame")
    assert(labelsOf(Long.MaxValue) == expected, "driver fast path over a scored frame")
  }

  test("several disjoint chains converge together, each to its own minimum") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = 200
    // Three chains with disjoint id ranges (offsets 0, 10k, 20k); the
    // worst diameter governs the shared round count.
    val offsets = Seq(0L, 10000L, 20000L)
    val edges = offsets.map(off => chain(off.to(off + d))).reduce(_ union _)
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(spark, edges, driverMaxEdges = 0L)
    assert(rounds <= bound(d), s"took $rounds rounds, bound ${bound(d)}")
    val byCluster = labels.groupBy($"cluster_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byCluster == offsets.map(_ -> (d + 1).toLong).toMap)
  }
}
