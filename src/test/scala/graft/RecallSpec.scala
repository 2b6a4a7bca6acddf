package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, EventOps}

/** Recall oracles for the bucketed/capped scale paths: the all-pairs /
  * uncapped forms are exhaustive ground truth on the small sf0.001
  * corpus, and each registered scale path must (a) emit only pairs the
  * ground truth contains, with identical values, and (b) honor its
  * stated guarantee (containment for capping, the pigeonhole bound for
  * banding). This is why the all-pairs forms exist at all — they never
  * run at scale and are not registered in SparkEntry.queries.
  */
class RecallSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private def dir = TestSpark.sfDir

  test("d08 capped LSH pairs are a subset of the uncapped d03 pairs") {
    val uncapped = Dedup.minhashLshPairs(spark, dir)
    val capped = Dedup.minhashLshPairsCapped(spark, dir)
    assert(capped.count() > 0)
    assert(capped.except(uncapped).count() == 0)
  }

  test("d09 banded SimHash pairs are a subset of all-pairs d06, and catch all hamming<=3") {
    val spark0 = spark
    import spark0.implicits._
    val allPairs = Dedup.simhashPairs(spark, dir)
    val banded = Dedup.simhashPairsBanded(spark, dir)
    assert(banded.count() > 0)
    assert(banded.except(allPairs).count() == 0)
    // Pigeonhole: a pair differing in <= 3 of 32 bits cannot differ in
    // all 4 byte-bands, so banding is guaranteed to catch it.
    val close = allPairs.filter($"hamming" <= 3)
    assert(close.except(banded).count() == 0)
  }

  test("d10 bucketed embedding dups are a subset of all-pairs d07 with identical cosines") {
    val allPairs = Dedup.embeddingDupPairs(spark, dir)
    val bucketed = Dedup.embeddingDupPairsBucketed(spark, dir)
    assert(bucketed.count() > 0)
    assert(bucketed.except(allPairs).count() == 0)
  }

  test("e09 bucketed top-10 is dominated rank-by-rank by the exact e08 top-10") {
    val exact = EventOps.userSeriesSimilarity(spark, dir)
      .select("cos").collect().map(_.getDouble(0))
    val bucketed = EventOps.userSeriesSimilarityBucketed(spark, dir)
      .select("cos").collect().map(_.getDouble(0))
    assert(bucketed.nonEmpty && bucketed.length <= exact.length)
    bucketed.zip(exact).foreach { case (b, e) =>
      assert(b <= e + 1e-12, s"bucketed cos $b exceeds exact $e at same rank")
    }
  }

  test("s05 multi-probe dominates s02 single-probe rank-by-rank, bounded by exact s01") {
    val spark0 = spark
    import spark0.implicits._
    import graft.ops.Similarity
    def cosByRank(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select($"q_id", $"rank", $"cos").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val single = cosByRank(Similarity.bucketedKnn(spark, dir))
    val multi = cosByRank(Similarity.multiProbeKnn(spark, dir))
    val exact = cosByRank(Similarity.bruteForceKnn(spark, dir))
    single.foreach { case (k, c1) =>
      // more probes can only improve (or tie) the candidate at each rank
      multi.get(k).foreach(cm => assert(cm >= c1 - 1e-12, s"$k: $cm < $c1"))
    }
    multi.foreach { case (k, cm) =>
      exact.get(k).foreach(ce => assert(cm <= ce + 1e-12, s"$k: $cm > exact $ce"))
    }
  }

  test("s18 beam search dominates s04 rank-by-rank and in recall@5, within a bounded extra budget") {
    val spark0 = spark
    import spark0.implicits._
    import graft.ops.Similarity
    def cosByRank(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select($"q_id", $"rank", $"cos").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def topIds(df: org.apache.spark.sql.DataFrame, idCol: String, k: Int): Map[Long, Set[Long]] =
      df.filter($"rank" <= k)
        .select($"q_id", org.apache.spark.sql.functions.col(idCol)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, a: Array[(Long, Long)]) => q -> a.map(_._2).toSet }
    // Theorem-backed: s18's round-0 candidate set IS s04's probe cell
    // and later rounds only ADD scored candidates, so at every rank
    // the beam's cosine >= the cell scan's, and recall@5 against the
    // exact answer can only improve; everything stays bounded by s01.
    val s04 = cosByRank(Similarity.ivfKnn(spark, dir))
    val s18 = cosByRank(Similarity.graphBeamKnn(spark, dir))
    val exact = cosByRank(Similarity.bruteForceKnn(spark, dir))
    s04.foreach { case (k, c4) =>
      s18.get(k).foreach(c8 => assert(c8 >= c4 - 1e-12, s"$k: beam $c8 < cell $c4"))
    }
    s18.foreach { case (k, c8) =>
      exact.get(k).foreach(ce => assert(c8 <= ce + 1e-12, s"$k: beam $c8 > exact $ce"))
    }
    val exact5 = topIds(Similarity.bruteForceKnn(spark, dir), "vec_id", 5)
    val cell5 = topIds(Similarity.ivfKnn(spark, dir), "vec_id", 5)
    val beam5 = topIds(Similarity.graphBeamKnn(spark, dir), "nb_id", 5)
    var gained = 0
    exact5.keys.foreach { q =>
      val cellHits = (exact5(q) & cell5.getOrElse(q, Set.empty)).size
      val beamHits = (exact5(q) & beam5.getOrElse(q, Set.empty)).size
      assert(beamHits >= cellHits, s"q=$q: beam recall $beamHits < cell $cellHits")
      if (beamHits > cellHits) gained += 1
    }
    // At rank 10 the cell boundary bites: compare the walk against the
    // pure cell scan (rounds = 0 — same code, no expansion)
    val exact10 = topIds(Similarity.bruteForceKnn(spark, dir), "vec_id", 10)
    val cell10 = topIds(Similarity.graphBeamKnn(spark, dir, rounds = 0), "nb_id", 10)
    val beam10 = topIds(Similarity.graphBeamKnn(spark, dir), "nb_id", 10)
    var gained10 = 0
    exact10.keys.foreach { q =>
      val c = (exact10(q) & cell10.getOrElse(q, Set.empty)).size
      val b = (exact10(q) & beam10.getOrElse(q, Set.empty)).size
      assert(b >= c, s"q=$q: beam recall@10 $b < cell $c")
      if (b > c) gained10 += 1
    }
    info(s"queries improved at rank 10: $gained10 of ${exact10.size}")
    // Budget: the walk adds at most rounds*beam*degree = 3*3*3 = 27
    // scored candidates over the cell scan (mutual degree <= k = 3) —
    // below the MEAN cell, so the total budget stays under the s05
    // two-cell multi-probe scan.
    val cellSizes = Similarity.ivfIndex(spark, dir)
      .groupBy($"cell_id").count().select($"count").as[Long].collect()
    val meanCell = cellSizes.sum / cellSizes.length
    assert(27 <= meanCell,
      s"budget bound: extra 27 should stay below the mean cell ($meanCell)")
    info(s"queries improved by the walk: $gained of ${exact5.size}")
  }

  test("s19 trained-codebook serving: bounded by exact, recall measured against the seed cells") {
    val spark0 = spark
    import spark0.implicits._
    import graft.ops.Similarity
    def cosByRank(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select($"q_id", $"rank", $"cos").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def top5(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.filter($"rank" <= 5).select($"q_id", $"vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, a: Array[(Long, Long)]) => q -> a.map(_._2).toSet }
    val trained = cosByRank(Similarity.ivfTrainedKnn(spark, dir))
    val exact = cosByRank(Similarity.bruteForceKnn(spark, dir))
    // any cell's rank-r candidate can never beat the exact rank-r cosine
    trained.foreach { case (k, ct) =>
      exact.get(k).foreach(ce => assert(ct <= ce + 1e-12, s"$k: $ct > exact $ce"))
    }
    val exact5 = top5(Similarity.bruteForceKnn(spark, dir))
    val seed5 = top5(Similarity.ivfKnn(spark, dir))
    val trained5 = top5(Similarity.ivfTrainedKnn(spark, dir))
    val (seedHits, trainedHits) = exact5.keys.foldLeft((0, 0)) { case ((sh, th), q) =>
      (sh + (exact5(q) & seed5.getOrElse(q, Set.empty)).size,
       th + (exact5(q) & trained5.getOrElse(q, Set.empty)).size)
    }
    assert(trainedHits > 0, "trained cells must retrieve real neighbors")
    info(s"recall@5 hits across queries: trained $trainedHits vs seed $seedHits (exact ${5 * exact5.size})")
  }

  test("s17 two-step k-means is memoized per k: k = 8 after the default k = 16 trains at most 8 cells") {
    val spark0 = spark
    import spark0.implicits._
    import graft.ops.Similarity
    // the default call leaves its k = 16 result in the session memo; a
    // memo keyed on (session, dir) alone would serve it to k = 8
    assert(Similarity.kmeansTwoStep(spark, dir).count() > 0)
    val cells = Similarity.kmeansTwoStep(spark, dir, 8)
      .groupBy($"iter").agg(org.apache.spark.sql.functions.countDistinct($"cell_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.keySet == Set(1L, 2L))
    cells.foreach { case (it, n) => assert(n <= 8, s"iter $it has $n cells at k = 8") }
  }

  test("s18 navigation crosses cell boundaries: the walk recovers a neighbor the cell scan misses") {
    val spark0 = spark
    import spark0.implicits._
    import graft.ops.Similarity
    // Constructed corpus: centroids 0..15 are one-hot axes; query 0
    // = e0. Cell 0 holds 16/17 and the BRIDGE 18 (0.6·e0+0.4·e1);
    // vector 19 (0.45·e0+0.55·e1) lands in cell 1 yet is a genuine
    // neighbor of query 0 — reachable only through the mutual edge
    // 18↔19, which exists because the nav graph draws candidates from
    // each vector's two nearest cells.
    def vec(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0f)
      parts.foreach { case (i, x) => a(i) = x }
      a
    }
    val rows =
      (0 until 16).map(i => (i.toLong, vec(i -> 1f), 0)) ++ Seq(
        (16L, vec(0 -> 0.95f, 1 -> 0.05f), 0),
        (17L, vec(0 -> 0.8f, 1 -> 0.2f), 0),
        (18L, vec(0 -> 0.6f, 1 -> 0.4f), 0),  // the bridge, cell 0
        (19L, vec(0 -> 0.45f, 1 -> 0.55f), 0), // the target, cell 1
        (20L, vec(0 -> 0.1f, 1 -> 0.9f), 0),
        (21L, vec(0 -> 0.12f, 1 -> 0.88f), 0))
    val tmp = java.nio.file.Files.createTempDirectory("graft-s18-cross").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    def idsFor(df: org.apache.spark.sql.DataFrame, q: Long): Set[Long] =
      df.filter($"q_id" === q).select($"nb_id").collect().map(_.getLong(0)).toSet
    val cellOnly = idsFor(Similarity.graphBeamKnn(spark, tmp, rounds = 0), 0L)
    val walked = idsFor(Similarity.graphBeamKnn(spark, tmp), 0L)
    assert(!cellOnly.contains(19L), s"cell scan should miss 19, got $cellOnly")
    assert(walked.contains(19L), s"the walk should recover 19, got $walked")
    assert(cellOnly.subsetOf(walked))
  }

  test("s07 exact re-rank dominates raw s06 PQ ranking in recall@5 per query") {
    val spark0 = spark
    import spark0.implicits._
    import graft.ops.Similarity
    // Theorem-backed, not statistical: every exact-top-5 member that
    // made the ADC shortlist beats all other shortlist members by exact
    // cosine, so re-ranking retains it; s06's top-5 is a subset of the
    // shortlist, hence per-query recall@5(s07) >= recall@5(s06).
    def top5(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"q_id", $"vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, a) => q -> a.map(_._2).toSet }
    val exact = top5(Similarity.bruteForceKnn(spark, dir).filter($"rank" <= 5))
    val raw = top5(Similarity.pqKnn(spark, dir))
    val rerank = top5(Similarity.pqRerankKnn(spark, dir))
    exact.keys.foreach { q =>
      val rawHits = (exact(q) & raw.getOrElse(q, Set.empty)).size
      val rerankHits = (exact(q) & rerank.getOrElse(q, Set.empty)).size
      assert(rerankHits >= rawHits, s"q=$q: rerank $rerankHits < raw $rawHits")
    }
  }

  test("s13 SQ8 rerank: exact cosines on every emitted row, high recall@5 vs s01") {
    val spark0 = spark
    import spark0.implicits._
    import graft.ops.Similarity
    val exact5 = Similarity.bruteForceKnn(spark, dir).filter($"rank" <= 5)
      .select($"q_id", $"vec_id", $"cos")
    val sq = Similarity.sqRerankKnn(spark, dir).select($"q_id", $"vec_id", $"cos")
    assert(sq.count() == 25, "5 queries x top-5")
    // The re-rank stage computes the same exact-cosine chain as s01, so
    // a recalled pair must match on the VALUE too — joining on all
    // three columns makes a 1-ULP drift a recall failure, not a pass.
    val hits = sq.join(exact5, Seq("q_id", "vec_id", "cos")).count()
    val recall = hits.toDouble / exact5.count()
    assert(recall >= 0.8, s"SQ8 recall@5 = $recall — the uint8 shortlist " +
      "lost exact-top-5 members it is expected to keep at width 25")
  }

  test("s14 kNN-graph edges for the s04 query set equal s04's top-3 exactly") {
    val spark0 = spark
    import spark0.implicits._
    import graft.ops.Similarity
    // Theorem-backed: s14 and s04 rank the SAME within-cell candidate
    // set by the same (cos desc, id) order, so the graph's first three
    // edges per query vector must be s04's first three rows bit for bit.
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val graph = rows(Similarity.knnGraph(spark, dir).filter($"vec_id" < 5))
    val probe = rows(Similarity.ivfKnn(spark, dir).filter($"rank" <= 3))
    assert(graph.nonEmpty && graph == probe)
  }

  test("s11 recall@5 is monotone non-decreasing across shortlist widths") {
    val spark0 = spark
    import spark0.implicits._
    import graft.ops.Similarity
    // Theorem-backed like the s07 test: the width-w candidate set is a
    // subset of the width-w' set for w < w', and any exact-top-5 member
    // present in a candidate set survives exact re-ranking (at most 4
    // vectors beat it globally). So recall@5 can only rise with width.
    val rows = Similarity.ivfPqRecallAudit(spark, dir)
      .select($"q_id", $"width", $"n_match", $"recall_at_5").collect()
    // Assert the exact (q_id, width) key set, not a bare count: if a
    // fixture change empties one query's shortlist at one width, the
    // failure names the missing (query, width) instead of "14 != 15".
    val expectedKeys = for (q <- 0L until 5L; w <- Seq(5L, 25L, 50L)) yield (q, w)
    val actualKeys = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(actualKeys.sorted == expectedKeys.sorted,
      s"missing=${(expectedKeys.toSet -- actualKeys).mkString(",")} " +
        s"extra=${(actualKeys.toSet -- expectedKeys).mkString(",")}")
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 5)
      assert(r.getDouble(3) == r.getLong(2).toDouble / 5)
    }
    rows.groupBy(_.getLong(0)).foreach { case (q, qr) =>
      val byWidth = qr.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
      assert(byWidth == byWidth.sorted,
        s"q=$q: recall not monotone across widths: $byWidth")
    }
    // and width 25 reproduces the registered s08 pipeline's recall
    val exact = Similarity.bruteForceKnn(spark, dir).filter($"rank" <= 5)
      .select($"q_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, a) => q -> a.map(_._2).toSet }
    val s08 = Similarity.ivfPqKnn(spark, dir)
      .select($"q_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, a) => q -> a.map(_._2).toSet }
    rows.filter(_.getLong(1) == 25L).foreach { r =>
      val q = r.getLong(0)
      val hits = (exact.getOrElse(q, Set.empty) & s08.getOrElse(q, Set.empty)).size
      assert(r.getLong(2) == hits.toLong,
        s"q=$q: audit n_match ${r.getLong(2)} != s08 recomputation $hits")
    }
  }

  test("s12 flags exactly the cells outside the occupancy bounds, plan fields consistent") {
    val spark0 = spark
    import spark0.implicits._
    import graft.ops.Similarity
    val rows = Similarity.ivfCellRebalanceAudit(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSet == (0L until 16L).toSet,
      "every codebook cell must appear exactly once")
    // Recompute occupancy independently from the per-cell counts the
    // audit itself reports (total = sum of counts): the flagged set
    // must be EXACTLY the cells outside the bounds — no false flags,
    // no misses.
    val total = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      val occ = r.getLong(1).toDouble * 16 / total
      assert(r.getDouble(2) == occ, s"cell ${r.getLong(0)}: occupancy mismatch")
      val expected = if (occ > 1.1) "split" else if (occ < 0.9) "merge" else "keep"
      assert(r.getString(3) == expected,
        s"cell ${r.getLong(0)}: occ=$occ flagged ${r.getString(3)}, expected $expected")
      // The plan fields follow the action: a split re-trains into
      // ceil(occupancy) sub-cells, a merge names a target centroid and
      // contributes 0 cells, a keep is the identity.
      r.getString(3) match {
        case "split" =>
          assert(r.getLong(4) == math.ceil(occ).toLong && r.getLong(4) >= 2)
          assert(r.isNullAt(5))
        case "merge" =>
          assert(r.getLong(4) == 0L)
          assert(!r.isNullAt(5) && r.getLong(5) != r.getLong(0))
        case _ =>
          assert(r.getLong(4) == 1L)
          assert(r.isNullAt(5))
      }
    }
    // Non-degenerate on the test corpus: at least one split and one
    // merge actually fire (thresholds were chosen against the real
    // distribution at every shipped SF).
    assert(rows.exists(_.getString(3) == "split"))
    assert(rows.exists(_.getString(3) == "merge"))
  }

  test("d16 semantic prune equals a driver-side recomputation on sf0.001") {
    val spark0 = spark
    import spark0.implicits._
    // Independent oracle in plain Scala: same left-to-right double fold
    // as FloatVectorDot, same 16-seed codebook, same greedy rule. Exact
    // double equality is intentional — identical operation order must
    // give identical bits, or the DuckDB oracle would drift too.
    val vecs = TestSpark.spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val emb = vecs.toMap
    val cb = vecs.filter(_._1 < 16)
    def cos(a: Long, b: Long): Double = dot(emb(a), emb(b)) / (nrm(a) * nrm(b))
    val cell = vecs.map { case (id, _) =>
      id -> cb.map { case (cid, _) => (cid, cos(id, cid)) }
        .maxBy { case (cid, c) => (c, -cid) }._1
    }.toMap
    val expected = vecs.flatMap { case (id, _) =>
      val mates = vecs.filter { case (o, _) => o < id && cell(o) == cell(id) }
        .map { case (o, _) => (o, cos(id, o)) }
        .filter(_._2 >= 0.35)
      if (mates.isEmpty) None
      else {
        val (keptBy, c) = mates.maxBy { case (o, cv) => (cv, -o) }
        Some((id, keptBy, cell(id), c))
      }
    }.toSeq
    val got = graft.ops.Dedup.semanticPrune(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.nonEmpty)
    assert(got == expected.sortBy(_._1))
  }

  test("s08 IVF-PQ stays within the query's cell and equals s04 when the shortlist covers it") {
    val spark0 = spark
    import spark0.implicits._
    import graft.ops.Similarity
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.select($"q_id", $"rank", $"vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (q, a) => q -> a.sortBy(_._2).map(_._3).toSeq }
    val s08 = sets(Similarity.ivfPqKnn(spark, dir))
    val s04 = sets(Similarity.ivfKnn(spark, dir))
    assert(s08.nonEmpty)
    // Driver-side cell assignment (same fold/tiebreaks as ivfAssigned,
    // already proven equal in the d16 test) → per-query cell size.
    val vecs = TestSpark.spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val emb = vecs.toMap
    val cb16 = vecs.filter(_._1 < 16)
    val cell = vecs.map { case (id, _) =>
      id -> cb16.map { case (cid, cv) => (cid, dot(emb(id), cv) / (nrm(id) * nrm(cid))) }
        .maxBy { case (cid, c) => (c, -cid) }._1
    }.toMap
    val cellSize = cell.groupBy(_._2).map { case (c, m) => c -> m.size }
    s04.keys.foreach { q =>
      val mates = cellSize(cell(q)) - 1 // self excluded
      if (mates <= 25) {
        // the 25-wide ADC shortlist necessarily holds the WHOLE cell,
        // so the exact re-rank must reproduce s04's exact top-5
        assert(s08.getOrElse(q, Seq.empty) == s04(q),
          s"q=$q (cell of $mates): ${s08.get(q)} != ${s04.get(q)}")
      } else {
        // truncated shortlist: results still come only from the cell
        s08.getOrElse(q, Seq.empty).foreach { v =>
          assert(cell(v) == cell(q), s"q=$q neighbor $v left the cell")
        }
      }
    }
  }

  test("d18 sketch audit: estimates bounded, error near the 12-hash theoretical std") {
    val spark0 = spark
    import spark0.implicits._
    val rows = Dedup.minhashAccuracy(spark, dir)
      .select($"est_jaccard", $"true_jaccard").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(rows.nonEmpty)
    rows.foreach { case (e, t) =>
      assert(e >= 0.0 && e <= 1.0 && t > 0.0 && t <= 1.0)
    }
    // A 12-component MinHash estimate of j has std sqrt(j(1-j)/12) <=
    // 0.145; the MEAN absolute error across candidate pairs must sit in
    // that regime (deterministic corpus, so this is a fixed number —
    // 0.25 leaves ~70% slack over the theoretical mean |error|).
    val meanErr = rows.map { case (e, t) => math.abs(e - t) }.sum / rows.length
    assert(meanErr <= 0.25, s"mean |est-true| = $meanErr")
  }

  test("d17 containment flags doc-in-doc pairs Jaccard misses") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions._
    // Doc 0 is pasted verbatim at the head of doc 1 (then 200 unique
    // filler tokens): containment(0,1) = 1 while Jaccard ≈ 6/206 —
    // exactly the doc-in-doc case the symmetric metric cannot flag.
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 200).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, short), (1L, s"$short $filler")).toDF("doc_id", "text")
    val row = Dedup.shinglePairCounts(docs, 256)
      .withColumn("containment", $"inter".cast("double") / least($"na", $"nb"))
      .withColumn("jaccard", $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
      .collect()
    assert(row.length == 1)
    val r = row.head
    assert(r.getAs[Double]("containment") == 1.0)
    assert(r.getAs[Double]("jaccard") < 0.3)
  }

  test("s21 tombstone serving: deleted ids never surface, ranks close up over s04") {
    val spark0 = spark
    val s21 = graft.ops.Similarity.tombstoneIvfKnn(spark0, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(s21.nonEmpty)
    assert(s21.forall(_._3 % 11 != 3), "a tombstoned vector resurfaced")
    val s04 = graft.ops.Similarity.ivfKnn(spark0, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byQ21 = s21.groupBy(_._1).map { case (q, v) => q -> v.sortBy(_._2).map(_._3) }
    val byQ04 = s04.groupBy(_._1).map { case (q, v) => q -> v.sortBy(_._2).map(_._3) }
    assert(byQ21.keySet == byQ04.keySet)
    byQ04.foreach { case (q, ids04) =>
      val expect = ids04.filter(_ % 11 != 3)
      // the live prefix of s04's ranking must survive as s21's prefix
      assert(byQ21(q).take(expect.length).sameElements(expect),
        s"q$q: live s04 order must be preserved with ranks closed up")
    }
  }

  test("s20 filtered search: label-pure, 2-probe dominates 1-probe vs filtered exact") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions._
    val labels = graft.Tables.embeddings(spark0, dir)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def top5(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(3)))
        .groupBy(_._1).map { case (q, v) => q -> v.map(_._2).toSet }
    val two = graft.ops.Similarity.filteredIvfKnn(spark0, dir)
    // every emitted neighbor carries the query's label
    two.collect().foreach { r =>
      assert(labels(r.getLong(3)) == r.getInt(1),
        s"q${r.getLong(0)}: neighbor ${r.getLong(3)} has the wrong label")
    }
    // filtered exact reference: brute-force top-5 among same-label vecs
    val e = graft.Tables.embeddings(spark0, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val exact = e.filter(_._1 < 5).map { case (qid, qv, ql) =>
      qid -> e.filter(x => x._3 == ql && x._1 != qid)
        .map(x => (x._1, cos(qv, x._2))).sortBy(x => (-x._2, x._1))
        .take(5).map(_._1).toSet
    }.toMap
    val one = top5(graft.ops.Similarity.filteredIvfKnn(spark0, dir, nprobe = 1))
    val twoIds = top5(two)
    val rec1 = exact.keys.toSeq.map(q => (one.getOrElse(q, Set.empty) & exact(q)).size).sum
    val rec2 = exact.keys.toSeq.map(q => (twoIds.getOrElse(q, Set.empty) & exact(q)).size).sum
    assert(rec2 >= rec1, s"2-probe recall $rec2 must dominate 1-probe $rec1")
    assert(rec2 > 0, "the widened probe must recover real filtered neighbors")
  }

  test("s24 radius search: τ honored, subset of the exact radius set, 2-probe dominates") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions._
    val tau = 0.25
    val rows = graft.ops.Similarity.radiusSearch(spark0, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    // τ honored and (q, v) unique: a vector lives in exactly one cell,
    // so distinct probe cells can never emit the same candidate twice
    assert(rows.forall(_._3 >= tau), "a row below τ leaked through the filter")
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length,
      "duplicate (query, neighbor) rows")
    // exact radius reference: brute-force cosine over the full corpus
    val e = graft.Tables.embeddings(spark0, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val exact = e.filter(_._1 < 5).flatMap { case (qid, qv) =>
      e.filter(_._1 != qid).map(x => ((qid, x._1), cos(qv, x._2)))
        .filter(_._2 >= tau - 1e-9)
    }.toMap
    rows.foreach { case (q, v, _) =>
      assert(exact.contains((q, v)),
        s"q$q neighbor $v is not in the exact radius set")
    }
    // widening the probe can only add qualifiers (per query)
    val one = graft.ops.Similarity.radiusSearch(spark0, dir, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val two = rows.map(t => (t._1, t._2)).toSet
    assert(one.subsetOf(two), "1-probe results must be contained in 2-probe")
    assert(two.nonEmpty, "the radius query must return qualifiers at τ = 0.25")
  }

  test("s25 SRP: signatures re-derived from md5 parities, Hamming ranking exact, recall > 0") {
    val spark0 = spark
    import spark0.implicits._
    val e = graft.Tables.embeddings(spark0, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val planes = Array.tabulate(16, 64) { (j, i) =>
      if (Integer.parseInt(md5hex(s"$j:$i").substring(0, 1), 16) % 2 == 0) 1L
      else -1L
    }
    def sigOf(v: Array[Float]): Long = {
      val qv = v.map(x => math.floor(x.toDouble * 10000.0).toLong)
      (0 until 16).map { j =>
        val dot = (0 until 64).map(i => planes(j)(i) * qv(i)).sum
        if (dot >= 0L) 1L << j else 0L
      }.sum
    }
    val sigs = e.map { case (id, v) => id -> sigOf(v) }.toMap
    val got = graft.ops.Similarity.srpHammingKnn(spark0, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).distinct.sorted.toSeq == (0L to 4L))
    val queries = e.map(_._1).filter(_ < 5)
    queries.foreach { q =>
      val exp = sigs.toSeq.filter(_._1 != q)
        .map { case (id, sg) =>
          (id, java.lang.Long.bitCount(sigs(q) ^ sg).toLong)
        }
        .sortBy { case (id, h) => (h, id) }.take(8)
      val g = got.filter(_._1 == q).sortBy(_._2).map(t => (t._3, t._4)).toSeq
      assert(g == exp, s"query $q Hamming ranking diverges from recompute")
    }
    // the projection is similarity-preserving, not arbitrary: summed
    // over queries, SRP top-8 must intersect the exact cosine top-8
    // (deterministic on this fixed corpus)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val overlap = queries.map { q =>
      val qv = e.find(_._1 == q).get._2
      val exact = e.filter(_._1 != q)
        .map(x => (x._1, cos(qv, x._2)))
        .sortBy { case (id, c) => (-c, id) }.take(8).map(_._1).toSet
      val srp = got.filter(_._1 == q).map(_._3).toSet
      (exact & srp).size
    }.sum
    assert(overlap > 0, "SRP top-8 never meets exact cosine top-8 — projection broken")
  }

  test("SRP signature boundary cases: zero-dot ties, negative floors, adversarial floats") {
    val spark0 = spark
    import spark0.implicits._
    // all-zero vector: every plane dot is exactly 0, and the >= 0 rule
    // must set EVERY bit — the tie case a float pipeline could break
    val zero = Array.fill(64)(0.0f)
    // negative values: floor(-0.00005 * 1e4) = floor(-0.5) = -1, not 0 —
    // pins floor-vs-truncate
    val tiny = Array.tabulate(64)(i => if (i % 2 == 0) -0.00005f else 0.00005f)
    val rnd = new scala.util.Random(13)
    val fuzz = (0 until 20).map(_ => Array.fill(64)(
      (rnd.nextFloat() - 0.5f) * (if (rnd.nextBoolean()) 1e-4f else 10f)))
    val vecs = (Seq(zero, tiny) ++ fuzz).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = vecs.toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val got = graft.ops.Similarity.srpSignatures(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val planes = Array.tabulate(16, 64) { (j, i) =>
      if (Integer.parseInt(md5hex(s"$j:$i").substring(0, 1), 16) % 2 == 0) 1L
      else -1L
    }
    vecs.foreach { case (id, v) =>
      val qv = v.map(x => math.floor(x.toDouble * 10000.0).toLong)
      val exp = (0 until 16).map { j =>
        val dot = (0 until 64).map(i => planes(j)(i) * qv(i)).sum
        if (dot >= 0L) 1L << j else 0L
      }.sum
      assert(got(id) == exp, s"vec $id")
    }
    assert(got(0L) == 0xFFFFL, "all-zero vector must set every bit (dot == 0 → bit 1)")
    // the tiny vector really exercises negative quantized coordinates
    assert(tiny.map(x => math.floor(x.toDouble * 10000.0).toLong).exists(_ < 0L))
  }

  test("s28 SQ upsert: frozen-range codes, clipping, and integer-dot ranking recomputed") {
    val spark0 = spark
    import spark0.implicits._
    val e = graft.Tables.embeddings(spark0, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val hist = e.filter(_._1 % 7 != 2)
    val arr = e.filter(_._1 % 7 == 2)
    // the export range must come from HISTORY alone (frozen semantics)
    val vals = hist.flatMap(_._2.map(_.toDouble))
    val gmin = vals.min; val gmax = vals.max
    def code(v: Array[Float]): Array[Long] = v.map { x =>
      val d = x.toDouble
      if (gmax == gmin) 0L
      else math.floor((d - gmin) * 255.0 / (gmax - gmin)).max(0.0).min(255.0).toLong
    }
    def clipped(v: Array[Float]): Long =
      v.count(x => x.toDouble < gmin || x.toDouble > gmax).toLong
    val histC = hist.map { case (id, v) => id -> code(v) }
    val got = graft.ops.Similarity.sqUpsertServe(spark0, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    arr.foreach { case (q, qv) =>
      val qc = code(qv)
      val exp = histC.filter(_._1 != q)
        .map { case (id, cv) =>
          (id, cv.zip(qc).map { case (a, b) => a * b }.sum)
        }
        .sortBy { case (id, d) => (-d, id) }.take(5)
      val g = got.filter(_._1 == q).sortBy(_._2)
      assert(g.map(t => (t._3, t._4)).toSeq == exp.toSeq, s"arrival $q ranking")
      g.foreach { t => assert(t._5 == clipped(qv), s"arrival $q n_clipped") }
      // every code really saturates inside [0, 255]
      assert(qc.forall(c => c >= 0L && c <= 255L))
    }
    // an arrival with a value outside the historical range must report
    // a nonzero clip count — and codes at the saturation boundary
    val anyOutside = arr.exists { case (_, v) =>
      v.exists(x => x.toDouble < gmin || x.toDouble > gmax)
    }
    if (anyOutside)
      assert(got.exists(_._5 > 0L), "drift meter failed to fire")
  }

  test("s27 banded SRP: candidates share a band; ranking equals recompute over band-sharers; subset of s25's candidate space") {
    val spark0 = spark
    import spark0.implicits._
    // re-derive signatures exactly as the s25 test does
    val e = graft.Tables.embeddings(spark0, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val planes = Array.tabulate(16, 64) { (j, i) =>
      if (Integer.parseInt(md5hex(s"$j:$i").substring(0, 1), 16) % 2 == 0) 1L
      else -1L
    }
    def sigOf(v: Array[Float]): Long = {
      val qv = v.map(x => math.floor(x.toDouble * 10000.0).toLong)
      (0 until 16).map { j =>
        val dot = (0 until 64).map(i => planes(j)(i) * qv(i)).sum
        if (dot >= 0L) 1L << j else 0L
      }.sum
    }
    val sigs = e.map { case (id, v) => id -> sigOf(v) }.toMap
    def bandsOf(sig: Long): Seq[Long] =
      (0 until 4).map(b => (sig >> (4 * b)) & 15L)
    val got = graft.ops.Similarity.srpBandedKnn(spark0, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val queries = e.map(_._1).filter(_ < 5)
    queries.foreach { q =>
      val qb = bandsOf(sigs(q))
      val sharers = sigs.toSeq.filter { case (id, sg) =>
        id != q && bandsOf(sg).zip(qb).exists { case (a, b) => a == b }
      }
      val exp = sharers
        .map { case (id, sg) =>
          (id, java.lang.Long.bitCount(sigs(q) ^ sg).toLong)
        }
        .sortBy { case (id, h) => (h, id) }.take(8)
      val g = got.filter(_._1 == q).sortBy(_._2).map(t => (t._3, t._4)).toSeq
      assert(g == exp, s"query $q banded ranking diverges from recompute")
      // every returned neighbor really shares a band (no leakage past
      // the candidate filter)
      g.foreach { case (id, _) =>
        assert(bandsOf(sigs(id)).zip(qb).exists { case (a, b) => a == b })
      }
    }
    // banding only restricts the candidate space: each banded Hamming
    // distance also appears in the s25 full-scan result or is ≥ its k-th
    val full = graft.ops.Similarity.srpHammingKnn(spark0, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    queries.foreach { q =>
      val fullSet = full.filter(_._1 == q).map(_._2).toSet
      val fullWorst = full.filter(_._1 == q).map(_._3).max
      got.filter(_._1 == q).foreach { case (_, _, id, h) =>
        assert(fullSet.contains(id) || h >= fullWorst,
          s"banded neighbor $id of q$q beats the full scan's worst but is absent from it")
      }
    }
  }

  test("s30 MMR: first pick is max-relevance, scores non-increasing, picks distinct") {
    val spark0 = TestSpark.spark
    val rows = SparkEntry.queries("s30_mmr_rerank")(spark0, TestSpark.sfDir).collect()
    assert(rows.length == 5)
    val ids = rows.map(_.getLong(1))
    assert(ids.distinct.length == ids.length)
    // pick 1 maximizes bare relevance (maxsim over the empty set is 0)
    val rels = rows.map(_.getDouble(2))
    val scores = rows.map(_.getDouble(3))
    assert(scores.head == 0.7 * rels.head - 0.3 * 0.0)
    val s01top = SparkEntry.queries("s01_knn_brute")(spark0, TestSpark.sfDir)
      .collect().filter(_.getLong(0) == 0L).minBy(_.getLong(1))
    assert(ids.head == s01top.getLong(2), "MMR pick 1 must be the brute-force top-1")
    // each candidate's marginal score only decays as the set grows, so
    // the selection trace is non-increasing
    scores.sliding(2).foreach { case Array(a, b) => assert(b <= a) }
  }

  test("s31 nprobe sweep: recall and candidate counts monotone in probed cells") {
    val spark0 = TestSpark.spark
    val rows = SparkEntry.queries("s31_nprobe_sweep")(spark0, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.length == 15)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val byNp = rs.sortBy(_._2)
      assert(byNp.map(_._2).toSeq == Seq(1L, 2L, 4L))
      byNp.foreach { case (_, _, nRet, nMatch, rec) =>
        assert(nRet <= 5 && nMatch <= nRet)
        assert(rec == nMatch.toDouble / 5)
      }
      // a superset of probed cells can only add candidates and matches
      assert(byNp(0)._3 <= byNp(1)._3 && byNp(1)._3 <= byNp(2)._3, s"q$q returned")
      assert(byNp(0)._4 <= byNp(1)._4 && byNp(1)._4 <= byNp(2)._4, s"q$q matched")
    }
  }

  test("s29 with fewer vectors than k emits the shorter trace, not a crash") {
    val spark0 = TestSpark.spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-s29-small").toString
    // three vectors incl. the vec_id-0 seed; k = 10 exhausts after them
    spark0.read.parquet(TestSpark.sfDir + "/embeddings.parquet")
      .where("vec_id < 3").write.parquet(s"$tmp/embeddings.parquet")
    val trace = graft.ops.Similarity.kcenterCoreset(spark0, tmp).collect()
    assert(trace.length == 3, s"expected the 3-row trace, got ${trace.length}")
    assert(trace.map(_.getLong(1)).toSet == Set(0L, 1L, 2L))
  }

  test("s33 serving cost: counts bounded by brute, recalls recomputed from the family lists") {
    val spark0 = TestSpark.spark
    val rows = SparkEntry.queries("s33_serving_cost")(spark0, TestSpark.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.length == 5)
    val brute5 = SparkEntry.queries("s01_knn_brute")(spark0, TestSpark.sfDir)
      .collect().filter(_.getLong(1) <= 5)
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val ivf5 = SparkEntry.queries("s04_knn_ivf")(spark0, TestSpark.sfDir)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val srp5 = SparkEntry.queries("s27_srp_banded")(spark0, TestSpark.sfDir)
      .collect().filter(_.getLong(1) <= 5)
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    rows.foreach { case (q, nb, ni, ns, ri, rs) =>
      // each family scans a strict subset of the brute sweep — the
      // point of having an index at all
      assert(ni < nb && ns < nb, s"q$q: an index scanned the whole corpus")
      assert(ri == ivf5(q).intersect(brute5(q)).size.toDouble / 5, s"q$q ivf recall")
      assert(rs == srp5.getOrElse(q, Set.empty[Long]).intersect(brute5(q)).size.toDouble / 5,
        s"q$q srp recall")
      assert(ri >= 0.0 && ri <= 1.0 && rs >= 0.0 && rs <= 1.0)
    }
  }

  test("s32 RRF: scores recomputed, ordering honored, dual-listed candidates dominate") {
    val spark0 = TestSpark.spark
    val ivf = SparkEntry.queries("s04_knn_ivf")(spark0, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val srp = SparkEntry.queries("s25_srp_hamming")(spark0, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val fused = SparkEntry.queries("s32_rrf_fusion")(spark0, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getDouble(5)))
    assert(fused.nonEmpty)
    // every fused row's ranks are the source lists' ranks, and the
    // score is exactly the fixed-order two-term IEEE sum
    fused.foreach { case (q, _, v, ir, sr, rrf) =>
      assert(ir == ivf.get((q, v)) && sr == srp.get((q, v)))
      assert(ir.isDefined || sr.isDefined)
      val expected = ir.map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        sr.map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      assert(rrf == expected, s"q$q cand $v")
    }
    fused.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1L to byRank.length).toSeq)
      // rrf non-increasing down the fused list, vec_id breaks ties
      byRank.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._6 < a._6 || (b._6 == a._6 && b._3 > a._3), s"q$q order")
        case _ =>
      }
      // worst dual score 1/65 + 1/68 still beats best single 1/61, so
      // every candidate on BOTH lists must outrank every single-list one
      val worstDual = byRank.filter(r => r._4.isDefined && r._5.isDefined)
        .map(_._2).maxOption
      val bestSingle = byRank.filter(r => r._4.isEmpty || r._5.isEmpty)
        .map(_._2).minOption
      for (wd <- worstDual; bs <- bestSingle)
        assert(wd < bs, s"q$q: a dual-listed candidate ranked below a single-listed one")
    }
  }

  test("s37 cell imbalance: recomputed from the shared assignment; bounds hold") {
    val spark0 = TestSpark.spark
    val rows = SparkEntry.queries("s37_cell_imbalance")(spark0, TestSpark.sfDir)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    val sizes = graft.ops.Similarity.ivfAssigned(spark0, TestSpark.sfDir)
      .groupBy("cell_id").count().collect().map(_.getLong(1))
    val k = sizes.length.toLong; val n = sizes.sum
    assert(r.getLong(0) == k && r.getLong(1) == n)
    assert(r.getLong(2) == sizes.max && r.getLong(3) == sizes.min)
    assert(java.lang.Double.doubleToLongBits(r.getDouble(4)) ==
      java.lang.Double.doubleToLongBits((sizes.max * k).toDouble / n.toDouble))
    assert(r.getBoolean(5) == (sizes.max * k <= n * 2))
    // imbalance is >= 1 by definition (max >= avg) and the verdict
    // matches the cross-multiplied bar
    assert(r.getDouble(4) >= 1.0)
  }

  test("s36 embedding health: quantized moments recomputed; variance identity holds") {
    val spark0 = TestSpark.spark
    val rows = SparkEntry.queries("s36_embedding_health")(spark0, TestSpark.sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6)))
      .toMap
    val vecs = spark0.read.parquet(TestSpark.sfDir + "/embeddings.parquet")
      .selectExpr("CAST(embedding AS ARRAY<FLOAT>) AS v").collect()
      .map(_.getSeq[Float](0).toArray)
    assert(rows.keySet == vecs.head.indices.map(_.toLong).toSet)
    vecs.head.indices.foreach { d =>
      val qs = vecs.map(v => math.floor(v(d).toDouble * 10000.0).toLong)
      val n = qs.length.toLong
      val sum = qs.sum
      val ssq = qs.map(q => q * q).sum
      val (gn, gsum, gssq, gmean, gvnum, gvar) = rows(d.toLong)
      assert(gn == n && gsum == sum && gssq == ssq, s"dim $d ints")
      assert(gmean == sum.toDouble / n.toDouble, s"dim $d mean")
      assert(gvnum == n * ssq - sum * sum, s"dim $d var_num")
      assert(gvar == (n * ssq - sum * sum).toDouble / (n * n).toDouble, s"dim $d var")
      // variance of real data is strictly positive (a dead dim would
      // be the audit's alarm; this corpus has none)
      assert(gvnum > 0L, s"dim $d dead")
    }
  }

  test("s35 ILS audit: folds recomputed from the lists; MMR strictly more diverse") {
    val spark0 = TestSpark.spark
    val got = SparkEntry.queries("s35_ils_audit")(spark0, TestSpark.sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == Set("brute", "mmr"))
    // recompute both lists' metrics from first principles: exact
    // normalized cosines over the raw embeddings
    val vecs = spark0.read.parquet(TestSpark.sfDir + "/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q = vecs(0L)
    val rels = vecs.keysIterator.filter(_ != 0L)
      .map(id => id -> cos(q, vecs(id))).toMap
    val brute = rels.toSeq
      .sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && x._1 < y._1))
      .take(5).map(_._1)
    val mmr = SparkEntry.queries("s30_mmr_rerank")(spark0, TestSpark.sfDir)
      .collect().map(_.getLong(1)).toSeq
    def ils(ids: Seq[Long]): Double = {
      val s = ids.sorted
      val terms = for { a <- s; b <- s if a < b } yield cos(vecs(a), vecs(b))
      terms.sum / 10.0
    }
    def meanRel(ids: Seq[Long]): Double = ids.sorted.map(rels).sum / 5.0
    // any-order double sums under tolerance; bit-exactness is the
    // DuckDB oracle's job
    assert(math.abs(got("brute")._1 - ils(brute)) < 1e-9)
    assert(math.abs(got("mmr")._1 - ils(mmr)) < 1e-9)
    assert(math.abs(got("brute")._2 - meanRel(brute)) < 1e-9)
    assert(math.abs(got("mmr")._2 - meanRel(mmr)) < 1e-9)
    // the audit's reason to exist: MMR bought strictly lower
    // intra-list similarity, paying at most a bounded relevance dip
    assert(got("mmr")._1 < got("brute")._1, "MMR list must be more diverse")
    assert(got("mmr")._2 <= got("brute")._2 + 1e-12,
      "brute maximizes mean relevance by construction")
  }
}
