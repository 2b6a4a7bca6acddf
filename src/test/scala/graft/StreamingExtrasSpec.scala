package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

/** One probe row from the TTL facet test: what each state var held
  * BEFORE the arrival folded in (-1 = absent/expired).
  */
final case class TtlProbe(key: String, prior_long: Long, prior_short: Long,
                          prior_ctl: Long)

/** Streaming shapes beyond the reference's single pipeline: stream ⋈
  * static dimension enrichment, and arbitrary stateful processing via
  * flatMapGroupsWithState (the KeyValueGroupedDataset custom-state
  * surface).
  */
class StreamingExtrasSpec extends AnyFunSuite {

  test("stream-static broadcast join enriches events with dimension rows") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[Long]
    val events = input.toDF().toDF("user_id")
    val q = events.join(broadcast(dim), Seq("user_id"), "left")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows == Map(1L -> Some("gold"), 2L -> Some("basic"), 3L -> None))
    } finally q.stop()
  }

  test("stream-stream interval join matches purchases to recent signups") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val signups = MemoryStream[(Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp)]
    val sDf = signups.toDF().toDF("s_user", "s_ts").withWatermark("s_ts", "1 hour")
    val pDf = purchases.toDF().toDF("p_user", "p_ts").withWatermark("p_ts", "1 hour")
    val joined = pDf.join(sDf,
      expr("p_user = s_user AND p_ts >= s_ts AND p_ts <= s_ts + interval 30 minutes"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      signups.addData((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:00:00")))
      purchases.addData((1L, ts("2024-01-01 00:10:00")), // within 30 min → match
                        (2L, ts("2024-01-01 00:50:00")), // outside 30 min → no match
                        (3L, ts("2024-01-01 00:10:00"))) // no signup → no match
      q.processAllAvailable()
      val users = spark.table("ss_join").collect().map(_.getLong(0)).toSeq
      assert(users == Seq(1L))
    } finally q.stop()
  }

  test("streaming multi-signal dedup: foreachBatch probes compose to the batch d15 result") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // The production ingest shape: new documents arrive in micro-batches
    // and each batch probes the STATIC historical index (exact md5 +
    // capped MinHash-LSH + banded SimHash) via the same frame-based core
    // the batch d15 query uses. Every output row depends only on its own
    // doc vs the index, so the union over batches must equal the batch
    // run bit for bit.
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select($"doc_id", $"text")
    val hist = docs.filter($"doc_id" % 5 =!= 0)
    val newDocs = docs.filter($"doc_id" % 5 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    // three uneven micro-batches covering all new docs
    val batches = Seq(
      newDocs.take(newDocs.length / 3),
      newDocs.slice(newDocs.length / 3, newDocs.length / 2),
      newDocs.drop(newDocs.length / 2))
    val input = MemoryStream[(Long, String)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        collected.synchronized {
          collected ++= graft.ops.Dedup.multiSignalProbe(batch, hist).collect()
        }
        ()
      }
      .outputMode("append").start()
    try {
      batches.foreach { b =>
        input.addData(b.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.createDataFrame(
      spark.sparkContext.parallelize(collected.toSeq),
      graft.ops.Dedup.incrementalDedupMulti(spark, TestSpark.sfDir).schema)
    val batchRun = graft.ops.Dedup.incrementalDedupMulti(spark, TestSpark.sfDir)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("StreamingDedup restart replays the uncommitted batch exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sfDir).select($"doc_id", $"text")
    val hist = docs.filter($"doc_id" % 5 =!= 0)
    val newDocs = docs.filter($"doc_id" % 5 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val batches = Seq(
      newDocs.take(newDocs.length / 3),
      newDocs.slice(newDocs.length / 3, newDocs.length / 2),
      newDocs.drop(newDocs.length / 2))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sd_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sd_out").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    def start() = graft.streaming.StreamingDedup.run(stream, hist, out, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // Simulate a crash between offset log and commit: drop the LAST
    // commit marker, so restart MUST re-execute batch 1 under the same
    // batch id. The per-batch overwrite makes that replay idempotent.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    // the local FS keeps a checksum sibling; a stale .crc makes the
    // replayed commit's rename fail as a phantom concurrent writer
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())

    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 1
      input.addData(batches(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()

    // batch 1 ran twice but wrote once-worth; union over batch dirs ==
    // the batch d15 answer on the same slice, bit for bit.
    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=0", "batch_id=1", "batch_id=2"))
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = graft.ops.Dedup.incrementalDedupMulti(spark, TestSpark.sfDir)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("streaming admission: per-batch verdicts compose to the batch d25 result") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // The full ingest-time curation gate: micro-batches of arriving
    // docs are scored on dedup/quality/decontamination against STATIC
    // sidecars. Every verdict row depends only on its own doc vs the
    // sidecars, so the union over batches equals the batch run.
    val docs = Tables.documents(spark, TestSpark.sfDir).select($"doc_id", $"text")
    val hist = docs.filter($"doc_id" % 5 =!= 0).localCheckpoint()
    val benchGrams = Tables.documents(spark, TestSpark.sfDir)
      .filter($"doc_id" % 97 === 0)
      .select(explode(
        graft.functions.TextHashes.ngram_hashes($"text", 4)).as("g"))
      .distinct().localCheckpoint()
    val newDocs = docs.filter($"doc_id" % 5 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val batches = Seq(
      newDocs.take(newDocs.length / 3),
      newDocs.slice(newDocs.length / 3, newDocs.length / 2),
      newDocs.drop(newDocs.length / 2))
    val input = MemoryStream[(Long, String)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        collected.synchronized {
          collected ++= graft.streaming.StreamingAdmission
            .admitBatch(batch, hist, benchGrams).collect()
        }
        ()
      }
      .outputMode("append").start()
    try {
      batches.foreach { b =>
        input.addData(b.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val batchRun = graft.ops.Dedup.ingestAdmission(spark, TestSpark.sfDir)
    val streamed = spark.createDataFrame(
      spark.sparkContext.parallelize(collected.toSeq), batchRun.schema)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
    // the fixture must exercise both verdicts, or admission is vacuous
    val admits = batchRun.filter($"admit").count()
    assert(admits > 0 && admits < batchRun.count())
  }

  test("StreamingLatenessAudit: per-batch audits sum to batch e26; replay exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // the EventOpsSpec out-of-order fixture, split so the 15min and 2h
    // stragglers arrive in LATER batches than the maxes they trail —
    // the cross-batch prefix is what carries their lateness
    val M = 1000000L
    val log = Seq(
      (1L, 0L), (2L, 3600L * M), (3L, 3600L * M - 120L * M),
      (4L, 7200L * M), (5L, 7200L * M - 900L * M),
      (6L, 20000L * M), (7L, 20000L * M - 7200L * M), (8L, 20001L * M))
    val batches = Seq(log.take(4), log.slice(4, 6), log.drop(6))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_slate_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_slate_out").toString
    val st = java.nio.file.Files.createTempDirectory("graft_slate_state").toString
    val input = MemoryStream[(Long, Long)]
    val stream = input.toDF().toDF("event_id", "us")
    def start() = graft.streaming.StreamingLatenessAudit.run(stream, out, st, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0)); q1.processAllAvailable()
      input.addData(batches(1)); q1.processAllAvailable()
    } finally q1.stop()
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 1 against snapshot 0
      input.addData(batches(2)); q2.processAllAvailable()
    } finally q2.stop()

    val streamed = spark.read.parquet(out)
    assert(streamed.count() == 3)
    val sums = streamed.agg(
      org.apache.spark.sql.functions.sum($"n_events"),
      org.apache.spark.sql.functions.sum($"late_1m"),
      org.apache.spark.sql.functions.sum($"late_10m"),
      org.apache.spark.sql.functions.sum($"late_1h"),
      org.apache.spark.sql.functions.max($"max_late_s")).collect().head
    val batchRun = graft.ops.EventOps.latenessAuditFrame(log.toDF("event_id", "us"))
      .collect().head
    assert(sums.getLong(0) == batchRun.getLong(0))
    assert(sums.getLong(1) == batchRun.getLong(1) && batchRun.getLong(1) == 3L)
    assert(sums.getLong(2) == batchRun.getLong(2) && batchRun.getLong(2) == 2L)
    assert(sums.getLong(3) == batchRun.getLong(3) && batchRun.getLong(3) == 1L)
    assert(sums.getLong(4) == batchRun.getLong(4) && batchRun.getLong(4) == 7200L)
    // the 2h straggler arrived in batch 2 but trails batch 1's max —
    // only the carried snapshot can have caught it
    val b2 = streamed.where("late_1h = 1").count()
    assert(b2 == 1L, "the cross-batch prefix must carry the 2h lateness")
  }

  test("watermark honesty: under the e26-licensed delay no arrival falls below the in-force progress watermark; a tighter delay is violated") {
    // The ST3 knob connected to the e26 evidence it exists to tune:
    // e26 MEASURES the fixture's worst lateness, the door runs with a
    // delay the measurement licenses, and the ACTUAL watermarks (read
    // from StreamingQueryProgress.eventTime, not assumed) never
    // overtake any arrival — so nothing is silently dropped. The
    // negative control runs the same fixture under a delay the audit
    // would veto and observes the violation the audit predicts.
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val M = 1000000L
    val log = Seq(
      (1L, 0L), (2L, 3600L * M), (3L, 3600L * M - 120L * M),
      (4L, 7200L * M), (5L, 7200L * M - 900L * M),
      (6L, 20000L * M), (7L, 20000L * M - 7200L * M), (8L, 20001L * M))
    // 1) the audit measures the stream's true disorder
    val audit = graft.ops.EventOps
      .latenessAuditFrame(log.toDF("event_id", "us")).collect().head
    val maxLateS = audit.getAs[Long]("max_late_s")
    assert(maxLateS == 7200L, "fixture's worst straggler is the 2h one")
    val batches = Seq(log.take(4), log.slice(4, 6), log.drop(6))
    def wmUs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
      if (p == null || p.eventTime.get("watermark") == null) 0L
      else java.time.Instant.parse(p.eventTime.get("watermark"))
        .toEpochMilli * 1000L
    // run the sessions door under `delay`, recording for each batch the
    // watermark IN FORCE when it was processed (the previous trigger's
    // reported watermark) and the batch's own min event time
    def runWith(delay: String): (Seq[(Long, Long)], Long) = {
      val out = java.nio.file.Files.createTempDirectory("graft_wmh_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_wmh_ckpt").toString
      val input = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
      val stream = input.toDF().toDF("ts", "user_id", "event_type", "value")
      val q = graft.streaming.StreamingSessions.run(stream, out, ckpt, delay)
      try {
        val obs = batches.map { b =>
          val inForce = wmUs(q.lastProgress)
          input.addData(b.map { case (id, us) =>
            (new java.sql.Timestamp(us / 1000L), id, "view", 1.0)
          })
          q.processAllAvailable()
          (inForce, b.map(_._2).min)
        }
        (obs, wmUs(q.lastProgress))
      } finally q.stop()
    }
    // 2) the licensed delay (2x the measured worst lateness) dominates:
    // every arrival sits at or above the watermark in force
    val (good, finalWm) = runWith(s"${2L * maxLateS} seconds")
    good.foreach { case (wm, minUs) =>
      assert(minUs >= wm,
        s"arrival at $minUs us fell below the in-force watermark $wm us " +
          "under the audit-licensed delay")
    }
    // the knob is LIVE, not never-initialized: the final watermark
    // advanced to exactly max event time - delay
    assert(finalWm == 20001L * M - 2L * maxLateS * M,
      s"final watermark $finalWm is not max-event-time minus the delay")
    // 3) negative control: a delay the audit would veto (60 s << 7200 s)
    // is overtaken by a straggler — the silent-drop configuration
    val (tight, _) = runWith("60 seconds")
    assert(tight.exists { case (wm, minUs) => minUs < wm },
      "the tight delay must be violated on this fixture — else the audit gates nothing")
  }

  test("StreamingBloomPrescreen: batches compose to the whole-slice probe; replay exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sfDir).select($"doc_id", $"text")
    val hist = docs.filter($"doc_id" % 5 =!= 0).localCheckpoint()
    // this corpus slice pair has NO cross-slice exact dups at sf0.001,
    // so re-arrivals of five historical docs are injected (fresh ids)
    // to exercise the dup arm end to end
    val reArrivals = hist.as[(Long, String)].collect().sortBy(_._1).take(5)
      .map { case (id, t) => (1000000L + id, t) }
    val newDocs = (docs.filter($"doc_id" % 5 === 0)
      .as[(Long, String)].collect() ++ reArrivals).sortBy(_._1)
    val batches = Seq(
      newDocs.take(newDocs.length / 3),
      newDocs.slice(newDocs.length / 3, newDocs.length / 2),
      newDocs.drop(newDocs.length / 2))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sbloom_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sbloom_out").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    def start() = graft.streaming.StreamingBloomPrescreen.run(stream, hist, out, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // crash before the commit marker: batch 1 must rewrite, not append
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try {
      q2.processAllAvailable()
      input.addData(batches(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()

    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=0", "batch_id=1", "batch_id=2"))
    // a fresh filter over the same history is bit-identical (build
    // parallelism and order cannot move the OR'd bit masks), so the
    // streamed union must equal the one-shot whole-slice probe
    val (bloom, digests) = graft.ops.Dedup.bloomIndex(hist)
    val oneShot = graft.ops.Dedup.bloomProbeBatch(
      newDocs.toSeq.toDF("doc_id", "text"), bloom, digests)
    val streamed = spark.read.parquet(out).drop("batch_id")
    assert(streamed.count() == oneShot.count())
    assert(streamed.except(oneShot).count() == 0)
    assert(oneShot.except(streamed).count() == 0)
    // the fixture exercises both outcomes and the no-false-negative law
    val rows = oneShot.collect()
    assert(rows.exists(_.getBoolean(2)) && rows.exists(r => !r.getBoolean(2)))
    rows.foreach(r => assert(!r.getBoolean(2) || r.getBoolean(1),
      s"false negative on doc ${r.getLong(0)}"))
    // the door's decision column is exactly the filter's complement
    rows.foreach(r => assert(r.getBoolean(3) == !r.getBoolean(1)))
  }

  test("StreamingAdmission restart replays the uncommitted batch exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sfDir).select($"doc_id", $"text")
    val hist = docs.filter($"doc_id" % 5 =!= 0).localCheckpoint()
    val benchGrams = Tables.documents(spark, TestSpark.sfDir)
      .filter($"doc_id" % 97 === 0)
      .select(explode(
        graft.functions.TextHashes.ngram_hashes($"text", 4)).as("g"))
      .distinct().localCheckpoint()
    val newDocs = docs.filter($"doc_id" % 5 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val batches = Seq(
      newDocs.take(newDocs.length / 3),
      newDocs.slice(newDocs.length / 3, newDocs.length / 2),
      newDocs.drop(newDocs.length / 2))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sadm_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sadm_out").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    def start() = graft.streaming.StreamingAdmission
      .run(stream, hist, benchGrams, out, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // Crash between offset log and commit: drop the LAST commit marker
    // (and its stale .crc), forcing a replay of batch 1 under the same
    // batch id — the batch_id-keyed overwrite must rewrite, not append.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())

    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 1
      input.addData(batches(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()

    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=0", "batch_id=1", "batch_id=2"))
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = graft.ops.Dedup.ingestAdmission(spark, TestSpark.sfDir)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("StreamingAdmission.runPii composes to batch d28 and replays exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // Arriving docs carry the planted-PII fixture text (the t33
    // discipline); the history stays the original corpus slice.
    val docs = Tables.documents(spark, TestSpark.sfDir).select($"doc_id", $"text")
    val hist = docs.filter($"doc_id" % 5 =!= 0).localCheckpoint()
    val benchGrams = Tables.documents(spark, TestSpark.sfDir)
      .filter($"doc_id" % 97 === 0)
      .select(explode(
        graft.functions.TextHashes.ngram_hashes($"text", 4)).as("g"))
      .distinct().localCheckpoint()
    val arriving = graft.ops.TextOps.piiFixture(spark, TestSpark.sfDir)
      .filter($"doc_id" % 5 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val batches = Seq(
      arriving.take(arriving.length / 3),
      arriving.slice(arriving.length / 3, arriving.length / 2),
      arriving.drop(arriving.length / 2))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_spii_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_spii_out").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    def start() = graft.streaming.StreamingAdmission
      .runPii(stream, hist, benchGrams, out, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // force an at-least-once replay of the last batch
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try {
      q2.processAllAvailable()
      input.addData(batches(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()

    val newDocsDF = graft.ops.TextOps.piiFixture(spark, TestSpark.sfDir)
      .filter($"doc_id" % 5 === 0).localCheckpoint()
    val batchRun = graft.ops.Dedup.piiAdmissionProbeIndexed(newDocsDF,
      graft.ops.Dedup.buildTextProbeIndex(hist), benchGrams)
    val streamed = spark.read.parquet(out).drop("batch_id")
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
    // the pii arm must really fire on streamed verdicts
    assert(streamed.filter($"reject_stage" === "pii").count() > 0)
  }

  test("streaming image dedup: foreachBatch probes compose to the batch m13 result") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Multimodal
    // The second-modality ingest shape: micro-batches of raw PNG bytes
    // probe the STATIC m08 aHash sidecar via the same frame core the
    // batch m13 query uses. Each output row depends only on its own
    // image vs the index, so the union over batches must equal the
    // batch run bit for bit.
    val index = Multimodal.historicalAHashIndex(spark, TestSpark.sfDir)
      .localCheckpoint() // hash the historical corpus once, not per batch
    val newIds = Tables.documents(spark, TestSpark.sfDir).select($"doc_id")
      .filter($"doc_id" % 5 === 0).as[Long].collect().sorted
    val newRows = newIds.map(id => (id, Multimodal.PngCodec.encode(id)))
    val batches = Seq(
      newRows.take(newRows.length / 3),
      newRows.slice(newRows.length / 3, newRows.length / 2),
      newRows.drop(newRows.length / 2))
    val input = MemoryStream[(Long, Array[Byte])]
    val collected = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = input.toDF().toDF("doc_id", "payload").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        collected.synchronized {
          collected ++= Multimodal.imageProbeBatch(batch, index).collect()
        }
        ()
      }
      .outputMode("append").start()
    try {
      batches.foreach { b =>
        input.addData(b.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val batchRun = Multimodal.incrementalImageDedup(spark, TestSpark.sfDir)
    val streamed = spark.createDataFrame(
      spark.sparkContext.parallelize(collected.toSeq), batchRun.schema)
    assert(streamed.count() > 0, "fixture must produce at least one image match")
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("streaming ANN: foreachBatch probes compose to the batch s04 result") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Similarity
    // The serving shape of the similarity family: micro-batches of
    // query vectors probe the STATIC IVF index through the same frame
    // core as s04. Each output row depends only on its own query vs
    // the index, so the union over batches must equal the one-shot
    // batch run bit for bit — including the exact cosine doubles.
    val index = Similarity.ivfIndex(spark, TestSpark.sfDir)
      .localCheckpoint() // assign the corpus once, not per batch
    val qRows = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .filter($"vec_id" < 5).select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Long, Array[Float])]
    val collected = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = input.toDF().toDF("q_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        collected.synchronized {
          collected ++= graft.streaming.StreamingAnn.probeBatch(batch, index).collect()
        }
        ()
      }
      .outputMode("append").start()
    try {
      input.addData(qRows.take(2).toSeq)
      q.processAllAvailable()
      input.addData(qRows.drop(2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val batchRun = Similarity.ivfKnn(spark, TestSpark.sfDir)
    val streamed = spark.createDataFrame(
      spark.sparkContext.parallelize(collected.toSeq), batchRun.schema)
    assert(streamed.count() == 25, "5 queries x top-5")
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("ivfProbeBatch excludeSelf flag controls the id-space contract") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.ops.Similarity
    val index = Similarity.ivfIndex(spark, TestSpark.sfDir).localCheckpoint()
    // an EXTERNAL query whose id coincides with an unrelated corpus id:
    // its embedding IS corpus vector 7's, so vector 7 is its true 1-NN
    val emb7 = index.filter($"vec_id" === 7L)
      .select($"embedding").collect()(0).getSeq[Float](0).toArray
    val batch = Seq((7L, emb7)).toDF("q_id", "embedding")
    val withSelf = Similarity.ivfProbeBatch(batch, index, excludeSelf = false)
      .filter($"rank" === 1).collect()
    assert(withSelf.length == 1 && withSelf(0).getLong(2) == 7L,
      "external id space: the coincident corpus vector must stay a candidate")
    val noSelf = Similarity.ivfProbeBatch(batch, index)
      .filter($"vec_id" === 7L).collect()
    assert(noSelf.isEmpty, "corpus id space: a self-query must not return itself")
  }

  test("image probe executed plan: no exchange ever carries the payload bytes") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.ops.Multimodal
    val index = Multimodal.historicalAHashIndex(spark, TestSpark.sfDir)
    val newRows = Tables.documents(spark, TestSpark.sfDir).select($"doc_id")
      .filter($"doc_id" % 5 === 0).as[Long].collect().sorted
      .map(id => (id, Multimodal.PngCodec.encode(id)))
    val batch = newRows.toSeq.toDF("doc_id", "payload")
    val df = Multimodal.imageProbeBatch(batch, index)
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    // Both shuffle AND broadcast exchanges: the batch side is broadcast,
    // and a broadcast of raw rasters would be exactly the at-scale bug
    // this asserts against.
    def exchanges(p: SparkPlan): Seq[Exchange] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case r: ReusedExchangeExec => Seq.empty
      case e: Exchange => e +: e.children.flatMap(exchanges)
      case other => other.children.flatMap(exchanges)
    }
    val ex = exchanges(df.queryExecution.executedPlan)
    assert(ex.nonEmpty, "expected at least one exchange in the band join")
    ex.foreach { e =>
      val binCols = e.output.filter(_.dataType ==
        org.apache.spark.sql.types.BinaryType).map(_.name)
      assert(binCols.isEmpty,
        s"exchange carries binary column(s) ${binCols.mkString(",")}: the batch " +
          "must reduce to hashes before it is broadcast or shuffled")
    }
  }

  test("StreamingImageDedup restart replays the uncommitted batch exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Multimodal
    val index = Multimodal.historicalAHashIndex(spark, TestSpark.sfDir).localCheckpoint()
    val newRows = Tables.documents(spark, TestSpark.sfDir).select($"doc_id")
      .filter($"doc_id" % 5 === 0).as[Long].collect().sorted
      .map(id => (id, Multimodal.PngCodec.encode(id)))
    val batches = Seq(
      newRows.take(newRows.length / 3),
      newRows.slice(newRows.length / 3, newRows.length / 2),
      newRows.drop(newRows.length / 2))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sid_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sid_out").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val stream = input.toDF().toDF("doc_id", "payload")
    def start() = graft.streaming.StreamingImageDedup.run(stream, index, out, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // Crash between offset log and commit: drop the LAST commit marker
    // (and its stale .crc sibling), forcing a replay of batch 1 under
    // the same batch id on restart.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())

    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 1
      input.addData(batches(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()

    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=0", "batch_id=1", "batch_id=2"))
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = Multimodal.incrementalImageDedup(spark, TestSpark.sfDir)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("StreamingVideoDedup restart replays the uncommitted batch exactly-once; union equals batch m17") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Multimodal
    val index = Multimodal.videoFrameIndex(spark, TestSpark.sfDir)
    val newRows = Tables.documents(spark, TestSpark.sfDir).select($"doc_id")
      .filter($"doc_id" % 5 === 0).as[Long].collect().sorted
      .map(id => (id, Multimodal.GifCodec.encode(id)))
    val batches = Seq(
      newRows.take(newRows.length / 3),
      newRows.slice(newRows.length / 3, newRows.length / 2),
      newRows.drop(newRows.length / 2))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_svd_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_svd_out").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val stream = input.toDF().toDF("doc_id", "payload")
    def start() = graft.streaming.StreamingVideoDedup.run(stream, index, out, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())

    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 1
      input.addData(batches(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()

    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=0", "batch_id=1", "batch_id=2"))
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = Multimodal.incrementalVideoDedup(spark, TestSpark.sfDir)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("video probe executed plan: no exchange ever carries the payload bytes") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.ops.Multimodal
    val index = Multimodal.videoFrameIndex(spark, TestSpark.sfDir)
    val newRows = Tables.documents(spark, TestSpark.sfDir).select($"doc_id")
      .filter($"doc_id" % 5 === 0).as[Long].collect().sorted
      .map(id => (id, Multimodal.GifCodec.encode(id)))
    val batch = newRows.toSeq.toDF("doc_id", "payload")
    val df = Multimodal.videoProbeBatch(batch, index)
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    def exchanges(p: SparkPlan): Seq[Exchange] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      case e: Exchange => e +: e.children.flatMap(exchanges)
      case other => other.children.flatMap(exchanges)
    }
    val ex = exchanges(df.queryExecution.executedPlan)
    assert(ex.nonEmpty, "expected at least one exchange in the digest probe")
    ex.foreach { e =>
      val binCols = e.output.filter(_.dataType ==
        org.apache.spark.sql.types.BinaryType).map(_.name)
      assert(binCols.isEmpty,
        s"exchange carries binary column(s) ${binCols.mkString(",")}: frames " +
          "must reduce to digests before anything moves")
    }
  }

  test("StreamingAnn restart replays the uncommitted batch exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Similarity
    val index = Similarity.ivfIndex(spark, TestSpark.sfDir).localCheckpoint()
    val qRows = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .filter($"vec_id" < 5).select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sann_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sann_out").toString
    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("q_id", "embedding")
    def start() = graft.streaming.StreamingAnn.run(stream, index, out, ckpt)

    val q1 = start()
    try {
      input.addData(qRows.take(2).toSeq); q1.processAllAvailable()
      input.addData(qRows.slice(2, 4).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // Crash between offset log and commit: drop the LAST commit marker,
    // forcing a replay of batch 1 under the same batch id on restart —
    // the batch_id-keyed overwrite must land the same rows, not append.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())

    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 1
      input.addData(qRows.drop(4).toSeq); q2.processAllAvailable()
    } finally q2.stop()

    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=0", "batch_id=1", "batch_id=2"))
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = Similarity.ivfKnn(spark, TestSpark.sfDir)
    assert(streamed.count() == 25)
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("streaming top-k: closed windows compose to the batch e16 result") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // The live-leaderboard shape: events arrive in event-time order
    // (the ordered-ingest contract) across uneven micro-batches; as the
    // watermark closes each tumbling day, the finalized (day, type)
    // counts are ranked inside foreachBatch. The union over batches
    // must equal batch e16 on the same events, because a sentinel event
    // 3 days past the log's end closes every real window.
    val evs = Tables.events(spark, TestSpark.sfDir)
      .select($"ts", $"event_type")
      .as[(java.sql.Timestamp, String)].collect().sortBy(_._1.getTime)
    val batches = Seq(
      evs.take(evs.length / 3),
      evs.slice(evs.length / 3, 2 * evs.length / 3),
      evs.drop(2 * evs.length / 3))
    val sentinel = new java.sql.Timestamp(
      evs.map(_._1.getTime).max + 3L * 24 * 3600 * 1000)
    val out = java.nio.file.Files.createTempDirectory("graft_stk_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stk_ckpt").toString
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingTopK.run(
      input.toDF().toDF("ts", "event_type"), out, ckpt)
    try {
      batches.foreach { b =>
        input.addData(b.toSeq)
        q.processAllAvailable()
      }
      // sentinel advances the watermark past every real day; its own
      // window stays open and never emits
      input.addData(Seq((sentinel, "view")))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = graft.ops.EventOps.windowedTopTypes(spark, TestSpark.sfDir)
    assert(streamed.count() > 0, "fixture must close at least one window")
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("StreamingTopK restart replays the uncommitted batch exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val evs = Tables.events(spark, TestSpark.sfDir)
      .select($"ts", $"event_type")
      .as[(java.sql.Timestamp, String)].collect().sortBy(_._1.getTime)
    val batches = Seq(
      evs.take(evs.length / 2),
      evs.drop(evs.length / 2))
    val sentinel = new java.sql.Timestamp(
      evs.map(_._1.getTime).max + 3L * 24 * 3600 * 1000)
    val out = java.nio.file.Files.createTempDirectory("graft_stkr_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stkr_ckpt").toString
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val stream = input.toDF().toDF("ts", "event_type")
    def start() = graft.streaming.StreamingTopK.run(stream, out, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // Crash between offset log and commit: drop the LAST commit marker
    // (plus its stale .crc), forcing a replay of that batch — with its
    // restored aggregate state — under the same batch id on restart.
    // (Watermark advancement schedules extra no-data batches, so the
    // commit count is not fixed; the replayed LAST one is what matters.)
    val commitDir = new java.io.File(s"$ckpt/commits")
    val commits = commitDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val lastId = commits.last.getName.toLong
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.$lastId.crc")
    if (crc.exists()) assert(crc.delete())

    val q2 = start()
    try {
      q2.processAllAvailable() // replays the dropped batch
      input.addData(Seq((sentinel, "view"))); q2.processAllAvailable()
    } finally q2.stop()

    // The replayed batch overwrote its own batch_id dir: the union over
    // dirs equals batch e16 exactly — count equality catches any
    // duplicated emission, set difference any drift.
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = graft.ops.EventOps.windowedTopTypes(spark, TestSpark.sfDir)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("streaming session features: closed sessions compose to the batch e18 result") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // Events arrive in event-time order across uneven micro-batches;
    // as the watermark passes each session's close, its finalized
    // feature row emits. A sentinel event 3 days past the log's end
    // closes every real session (its own session stays open and never
    // emits), so the union over batches must equal batch e18.
    val evs = Tables.events(spark, TestSpark.sfDir)
      .select($"ts", $"user_id", $"event_type", $"value")
      .as[(java.sql.Timestamp, Long, String, Double)].collect().sortBy(_._1.getTime)
    val batches = Seq(
      evs.take(evs.length / 3),
      evs.slice(evs.length / 3, 2 * evs.length / 3),
      evs.drop(2 * evs.length / 3))
    val sentinel = new java.sql.Timestamp(
      evs.map(_._1.getTime).max + 3L * 24 * 3600 * 1000)
    val out = java.nio.file.Files.createTempDirectory("graft_ssn_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssn_ckpt").toString
    val input = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val q = graft.streaming.StreamingSessions.run(
      input.toDF().toDF("ts", "user_id", "event_type", "value"), out, ckpt)
    try {
      batches.foreach { b =>
        input.addData(b.toSeq)
        q.processAllAvailable()
      }
      input.addData(Seq((sentinel, -1L, "view", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = graft.ops.EventOps.sessionFeatures(spark, TestSpark.sfDir)
    assert(streamed.count() > 0, "fixture must close at least one session")
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("StreamingSessions restart replays the uncommitted batch exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val evs = Tables.events(spark, TestSpark.sfDir)
      .select($"ts", $"user_id", $"event_type", $"value")
      .as[(java.sql.Timestamp, Long, String, Double)].collect().sortBy(_._1.getTime)
    val batches = Seq(
      evs.take(evs.length / 2),
      evs.drop(evs.length / 2))
    val sentinel = new java.sql.Timestamp(
      evs.map(_._1.getTime).max + 3L * 24 * 3600 * 1000)
    val out = java.nio.file.Files.createTempDirectory("graft_ssnr_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssnr_ckpt").toString
    val input = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val stream = input.toDF().toDF("ts", "user_id", "event_type", "value")
    def start() = graft.streaming.StreamingSessions.run(stream, out, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // Crash between offset log and commit: drop the LAST commit marker,
    // forcing a replay of that batch — with its restored session state
    // — under the same batch id on restart.
    val commitDir = new java.io.File(s"$ckpt/commits")
    val commits = commitDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val lastId = commits.last.getName.toLong
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.$lastId.crc")
    if (crc.exists()) assert(crc.delete())

    val q2 = start()
    try {
      q2.processAllAvailable() // replays the dropped batch
      input.addData(Seq((sentinel, -1L, "view", 0.0))); q2.processAllAvailable()
    } finally q2.stop()

    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = graft.ops.EventOps.sessionFeatures(spark, TestSpark.sfDir)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("StreamingAnnIngest: streamed upsert deltas compose to the batch assignment; replay exactly-once; serving sees index ∪ delta") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Similarity
    val all = Similarity.normedVectors(spark, TestSpark.sfDir)
    val hist = all.filter($"vec_id" % 7 =!= 2)
    val histIdx = Similarity.assignByCodebook(hist, Similarity.codebookOf(hist))
    val root = java.nio.file.Files.createTempDirectory("graft-anni-idx").toString
    Similarity.persistIvfIndex(histIdx, root)
    val arrivals = Tables.embeddings(spark, TestSpark.sfDir)
      .filter($"vec_id" % 7 === 2).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val delta = java.nio.file.Files.createTempDirectory("graft-anni-delta").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-anni-ckpt").toString
    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
    def start() = graft.streaming.StreamingAnnIngest.run(stream, root, delta, ckpt)

    val q1 = start()
    try {
      input.addData(arrivals.take(arrivals.length / 2).toSeq); q1.processAllAvailable()
      input.addData(arrivals.drop(arrivals.length / 2).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // crash between offset log and commit: replay the last batch
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // the replayed batch overwrote its own delta partition: the union
    // of deltas equals ONE batch assignment over all arrivals
    val dirs = new java.io.File(delta).listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=0", "batch_id=1"))
    val streamed = spark.read.parquet(delta)
      .select($"vec_id", $"cell_id")
    val batchAssign = Similarity.ivfUpsertAssign(
      Tables.embeddings(spark, TestSpark.sfDir)
        .filter($"vec_id" % 7 === 2).select($"vec_id", $"embedding"),
      Similarity.loadIvfIndex(spark, root))
      .select($"vec_id", $"cell_id")
    assert(streamed.count() == batchAssign.count() && streamed.count() > 0)
    assert(streamed.except(batchAssign).count() == 0)
    assert(batchAssign.except(streamed).count() == 0)

    // serving [index ∪ delta] equals serving the frozen-codebook
    // rebuild over the union — no rebuild ever ran
    val queries = Tables.embeddings(spark, TestSpark.sfDir)
      .filter($"vec_id" % 13 === 1).select($"vec_id".as("q_id"), $"embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"q_id", $"rank").collect().toSeq.map(_.toString)
    val served = rows(Similarity.ivfProbeBatch(queries,
      graft.streaming.StreamingAnnIngest.servingIndex(spark, root, delta),
      excludeSelf = false))
    val frozenRebuild = Similarity.assignByCodebook(all, Similarity.codebookOf(hist))
    val rebuilt = rows(Similarity.ivfProbeBatch(queries, frozenRebuild,
      excludeSelf = false))
    assert(served == rebuilt && served.nonEmpty,
      "serving the streamed deltas must equal serving a frozen-codebook rebuild")
  }

  test("ingest doors: servingIndex before the first delta commit serves the index alone") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
      .select($"vec_id", $"embedding")
    val hist = emb.filter($"vec_id" % 7 =!= 2)
    // IVF door
    val ivfRoot = java.nio.file.Files.createTempDirectory("graft-empty-ivf").toString
    val ivfDelta = java.nio.file.Files.createTempDirectory("graft-empty-ivfd").toString
    val histN = Similarity.normedVectors(spark, TestSpark.sfDir)
      .filter($"vec_id" % 7 =!= 2)
    Similarity.persistIvfIndex(
      Similarity.assignByCodebook(histN, Similarity.codebookOf(histN)), ivfRoot)
    val ivfServe = graft.streaming.StreamingAnnIngest
      .servingIndex(spark, ivfRoot, ivfDelta)
    assert(ivfServe.count() == histN.count(),
      "empty delta must fall back to the index alone, not die on schema inference")
    // SRP door
    val srpRoot = java.nio.file.Files.createTempDirectory("graft-empty-srp").toString
    val srpDelta = java.nio.file.Files.createTempDirectory("graft-empty-srpd").toString
    Similarity.persistSrpIndex(hist, srpRoot)
    assert(graft.streaming.StreamingSrpIngest
      .servingIndex(spark, srpRoot, srpDelta).count() == hist.count())
    // a nonexistent delta dir (job not even started) also serves
    assert(graft.streaming.StreamingSrpIngest
      .servingIndex(spark, srpRoot, s"$srpDelta/never_created").count() == hist.count())
  }

  test("StreamingSrpIngest: streamed signature deltas compose to one batch hash; replay exactly-once; serving sees index ∪ delta") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
      .select($"vec_id", $"embedding")
    val hist = emb.filter($"vec_id" % 7 =!= 2)
    val root = java.nio.file.Files.createTempDirectory("graft-srpi-idx").toString
    Similarity.persistSrpIndex(hist, root)
    val arrivals = emb.filter($"vec_id" % 7 === 2)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val delta = java.nio.file.Files.createTempDirectory("graft-srpi-delta").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-srpi-ckpt").toString
    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
    def start() = graft.streaming.StreamingSrpIngest.run(stream, delta, ckpt)

    val q1 = start()
    try {
      input.addData(arrivals.take(arrivals.length / 2).toSeq); q1.processAllAvailable()
      input.addData(arrivals.drop(arrivals.length / 2).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // crash between offset log and commit: replay the last batch
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // the replayed batch overwrote its own delta partition: the union
    // of deltas equals ONE batch srpSignatures over all arrivals
    val dirs = new java.io.File(delta).listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=0", "batch_id=1"))
    val streamed = spark.read.parquet(delta).select($"vec_id", $"sig")
    val batchHash = Similarity.srpSignatures(emb.filter($"vec_id" % 7 === 2))
    assert(streamed.count() == batchHash.count() && streamed.count() > 0)
    assert(streamed.except(batchHash).count() == 0)
    assert(batchHash.except(streamed).count() == 0)

    // Hamming serving over [index ∪ delta] equals serving the
    // from-scratch signatures of the union — no rebuild ever ran
    val queries = Similarity.srpSignatures(emb.filter($"vec_id" % 13 === 1))
      .toDF("q_id", "q_sig")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toString)
    val served = rows(Similarity.srpProbe(
      graft.streaming.StreamingSrpIngest.servingIndex(spark, root, delta),
      queries, k = 8))
    assert(served == rows(Similarity.srpProbe(Similarity.srpSignatures(emb),
      queries, k = 8)) && served.nonEmpty,
      "serving the streamed deltas must equal serving from-scratch signatures")
  }

  test("StreamingAudioDedup restart replays the uncommitted batch exactly-once; union equals batch m18; disk index form agrees") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Multimodal
    val index = Multimodal.audioFpIndex(spark, TestSpark.sfDir)
    val newRows = Tables.documents(spark, TestSpark.sfDir).select($"doc_id")
      .filter($"doc_id" % 5 === 0).as[Long].collect().sorted
      .map(id => (id, Multimodal.WavCodec.encode(id)))
    val batches = Seq(
      newRows.take(newRows.length / 2),
      newRows.drop(newRows.length / 2))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sad_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sad_out").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val stream = input.toDF().toDF("doc_id", "payload")
    def start() = graft.streaming.StreamingAudioDedup.run(stream, index, out, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = Multimodal.incrementalAudioDedup(spark, TestSpark.sfDir)
    assert(streamed.count() == batchRun.count() && streamed.count() > 0)
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)

    // the durable-index form probes identically with no decode pass
    val idxDir = java.nio.file.Files.createTempDirectory("graft_sad_idx").toString
    Multimodal.persistAudioIndex(
      Multimodal.wavTable(spark, TestSpark.sfDir).filter($"doc_id" % 5 =!= 0),
      idxDir)
    val fromDisk = graft.streaming.StreamingAudioDedup.probeBatch(
      newRows.toSeq.toDF("doc_id", "payload"),
      Multimodal.loadAudioIndex(spark, idxDir))
    assert(fromDisk.count() == batchRun.count())
    assert(fromDisk.except(batchRun).count() == 0)
    assert(batchRun.except(fromDisk).count() == 0)
  }

  test("StreamTransitions composes to batch transitionStats; its timer evicts") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    graft.streaming.Door.withRocksDb(spark) {
      // 1. The watermarked streaming form of the e14/e15 family: feed
      //    the whole sf0.001 event log in event-time order (the
      //    ordered-ingest contract) across three uneven micro-batches
      //    that split most users' timelines, and the emitted pairs must
      //    aggregate to the batch lead()-window result bit for bit.
      //    Horizon wider than the 30-day log span: every user must
      //    survive the batch boundaries here.
      val evs = Tables.events(spark, TestSpark.sfDir)
        .select($"user_id", $"ts".cast("timestamp").as("ts"), $"event_id",
          $"event_type", unix_micros($"ts".cast("timestamp")).as("us"))
        .as[(Long, java.sql.Timestamp, Long, String, Long)]
        .collect().sortBy(e => (e._5, e._3))
        .map(e => (e._1, e._2, e._3, e._4))
      val batches = Seq(
        evs.take(evs.length / 3),
        evs.slice(evs.length / 3, 2 * evs.length / 3),
        evs.drop(2 * evs.length / 3))
      val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
      val stream = input.toDF().toDF("user_id", "ts", "event_id", "event_type")
      val q = graft.streaming.StreamTransitions
        .transitions(stream, horizonMs = 90L * 24 * 3600 * 1000).toDF()
        .writeStream.format("memory").queryName("st_trans")
        .outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      } finally q.stop()
      val streamed = spark.table("st_trans")
        .groupBy($"from_type", $"to_type")
        .agg(count(lit(1)).as("n"), sum($"gap_us").as("total_gap_us"),
          min($"gap_us").as("min_gap_us"), max($"gap_us").as("max_gap_us"))
      val batchRun = graft.ops.EventOps.transitionStats(spark, TestSpark.sfDir)
      val nStreamed = streamed.count()
      assert(nStreamed > 0, "fixture must produce transitions")
      assert(nStreamed == batchRun.count())
      assert(streamed.except(batchRun).count() == 0)
      assert(batchRun.except(streamed).count() == 0)
      // The split genuinely exercised cross-batch chaining: pairs total
      // events - users, which only holds if pairs spanning batch
      // boundaries were emitted from remembered state.
      val nUsers = evs.map(_._1).distinct.length
      assert(spark.table("st_trans").count() == evs.length - nUsers)

      // 2. The registered event-time TIMER actually evicts: A idles
      //    past the horizon, B's far-future event advances the
      //    watermark a day past it, and A's return must NOT pair across
      //    the eviction but must chain its own fresh successor.
      def ts(x: String) = java.sql.Timestamp.valueOf(x)
      val input2 = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
      val stream2 = input2.toDF().toDF("user_id", "ts", "event_id", "event_type")
      val q2 = graft.streaming.StreamTransitions
        .transitions(stream2, watermark = "1 minute", horizonMs = 60000L).toDF()
        .writeStream.format("memory").queryName("st_evict")
        .outputMode("append").start()
      try {
        input2.addData((1L, ts("2024-01-01 00:00:00"), 1L, "view")); q2.processAllAvailable()
        input2.addData((2L, ts("2024-01-02 00:00:00"), 2L, "view")); q2.processAllAvailable()
        input2.addData((1L, ts("2024-01-03 00:00:00"), 3L, "click")); q2.processAllAvailable()
        input2.addData((1L, ts("2024-01-03 00:00:01"), 4L, "buy")); q2.processAllAvailable()
      } finally q2.stop()
      val rows = spark.table("st_evict")
        .select($"user_id", $"from_type", $"to_type", $"gap_us").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(rows == Seq((1L, "click", "buy", 1000000L)))
    }
  }

  test("StreamingKmeans: in-order micro-batches compose bit-exactly to the batch s15 step") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val seed = graft.streaming.StreamingKmeans.seedCodebook(spark, TestSpark.sfDir)
    val vecs = Tables.embeddings(spark, TestSpark.sfDir)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val slices = Seq(vecs.take(vecs.length / 3),
      vecs.slice(vecs.length / 3, 2 * vecs.length / 3),
      vecs.drop(2 * vecs.length / 3))
    val out = java.nio.file.Files.createTempDirectory("graft-skm-out").toString
    val st = java.nio.file.Files.createTempDirectory("graft-skm-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-skm-ckpt").toString
    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
    val q = graft.streaming.StreamingKmeans.run(stream, seed, out, st, ckpt)
    try {
      slices.foreach { sl => input.addData(sl.toSeq); q.processAllAvailable() }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell_id", $"dim", $"old_c", $"new_c", $"n_members").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
        .sortBy(t => (t._1, t._2)).toSeq
    val streamed = rows(spark.read.parquet(s"$out/batch_id=2"))
    val batch = rows(graft.ops.Similarity.kmeansStep(spark, TestSpark.sfDir))
    // bit-exact: the left fold composes across in-order batches
    assert(streamed == batch)
  }

  test("StreamingKmeans restart replays the uncommitted batch exactly-once (state snapshots)") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val seed = graft.streaming.StreamingKmeans.seedCodebook(spark, TestSpark.sfDir)
    val vecs = Tables.embeddings(spark, TestSpark.sfDir)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val slices = Seq(vecs.take(vecs.length / 3),
      vecs.slice(vecs.length / 3, 2 * vecs.length / 3),
      vecs.drop(2 * vecs.length / 3))
    val out = java.nio.file.Files.createTempDirectory("graft-skm2-out").toString
    val st = java.nio.file.Files.createTempDirectory("graft-skm2-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-skm2-ckpt").toString
    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
    def start() = graft.streaming.StreamingKmeans.run(stream, seed, out, st, ckpt)
    val q1 = start()
    try {
      input.addData(slices(0).toSeq); q1.processAllAvailable()
      input.addData(slices(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // crash between offset log and commit: batch 1 must replay; it
    // re-reads the UNCHANGED batch-0 state snapshot, so the re-fold
    // writes identical state and codebook
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 1
      input.addData(slices(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"cell_id", $"dim", $"old_c", $"new_c", $"n_members").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
        .sortBy(t => (t._1, t._2)).toSeq
    val streamed = rows(spark.read.parquet(s"$out/batch_id=2"))
    val batch = rows(graft.ops.Similarity.kmeansStep(spark, TestSpark.sfDir))
    assert(streamed == batch)
  }

  test("every snapshot-fold door fails with Door's message when snapshot n-1 is missing") {
    // stateDir cleaned while the checkpoint survived: batch 1 must fail
    // naming the missing snapshot, never fold onto empty state or die
    // on a raw parquet path error.
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.{DataFrame, Encoder}
    import org.apache.spark.sql.streaming.StreamingQuery
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    def failsWithoutSnapshot[T: Encoder](door: String, rows: Seq[T], cols: String*)(
        run: (DataFrame, String, String, String) => StreamingQuery): Unit = {
      val (out, st, ckpt) = (tmp("graft_miss_out"), tmp("graft_miss_state"),
        tmp("graft_miss_ckpt"))
      val input = MemoryStream[T]
      val q = run(input.toDF().toDF(cols: _*), out, st, ckpt)
      try {
        input.addData(rows.take(rows.length / 2)); q.processAllAvailable()
        val snap0 = new java.io.File(s"$st/batch_id=0")
        assert(snap0.isDirectory, s"$door: batch 0 must write its snapshot")
        org.apache.commons.io.FileUtils.deleteDirectory(snap0)
        input.addData(rows.drop(rows.length / 2))
        val ex = intercept[Exception](q.processAllAvailable())
        def chain(t: Throwable): Seq[String] =
          if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
        assert(chain(ex).exists(m => m != null &&
          m.contains(s"state snapshot for batch 0 missing at $st/batch_id=0")),
          s"$door: expected Door's missing-snapshot message, got: ${chain(ex).mkString(" | ")}")
      } finally q.stop()
    }
    val users = Seq(1L, 2L, 3L, 1L, 4L, 2L)
    failsWithoutSnapshot("StreamingCms", users, "user_id")(
      graft.streaming.StreamingCms.run)
    failsWithoutSnapshot("StreamingGini", users, "user_id")(
      graft.streaming.StreamingGini.run)
    failsWithoutSnapshot("StreamingPeriodicity",
      Seq(("view", ts("2024-01-01 00:10:00")), ("buy", ts("2024-01-01 01:10:00")),
        ("view", ts("2024-01-02 00:10:00")), ("view", ts("2024-01-02 03:10:00"))),
      "event_type", "ts")(graft.streaming.StreamingPeriodicity.run)
    failsWithoutSnapshot("StreamingStickiness",
      Seq((ts("2024-01-01 00:10:00"), 1L), (ts("2024-01-01 05:00:00"), 2L),
        (ts("2024-01-02 00:10:00"), 1L), (ts("2024-01-03 00:10:00"), 3L)),
      "ts", "user_id")(graft.streaming.StreamingStickiness.run)
    failsWithoutSnapshot("StreamingLatenessAudit",
      Seq((1L, 0L), (2L, 5000000L), (3L, 4000000L), (4L, 9000000L)),
      "event_id", "us")(graft.streaming.StreamingLatenessAudit.run)
    val seed = graft.streaming.StreamingKmeans.seedCodebook(spark, TestSpark.sfDir)
    val vecs = Tables.embeddings(spark, TestSpark.sfDir)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1).take(8).toSeq
    failsWithoutSnapshot("StreamingKmeans", vecs, "vec_id", "embedding")(
      graft.streaming.StreamingKmeans.run(_, seed, _, _, _))
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .filter($"doc_id" % 5 === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1).take(8).toSeq
    failsWithoutSnapshot("StreamingClusterMaintenance", docs, "doc_id", "text")(
      graft.streaming.StreamingClusterMaintenance.run(_, TestSpark.sfDir, _, _, _))
  }

  test("StreamingClusterMaintenance: streamed union-find state composes to batch d32") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val arrivals = Tables.documents(spark, TestSpark.sfDir)
      .filter($"doc_id" % 5 === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val slices = Seq(arrivals.take(arrivals.length / 3),
      arrivals.slice(arrivals.length / 3, 2 * arrivals.length / 3),
      arrivals.drop(2 * arrivals.length / 3))
    val out = java.nio.file.Files.createTempDirectory("graft-scm-out").toString
    val st = java.nio.file.Files.createTempDirectory("graft-scm-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scm-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = graft.streaming.StreamingClusterMaintenance.run(
      stream, TestSpark.sfDir, out, st, ckpt)
    try {
      slices.foreach { sl => input.addData(sl.toSeq); q.processAllAvailable() }
    } finally q.stop()
    def verdictRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2), r.getBoolean(3)))
        .sortBy(_._1).toSeq
    val labels = graft.ops.Dedup.histClusterLabels(spark, TestSpark.sfDir)
    val state = spark.read.parquet(s"$st/batch_id=2")
    val streamed = verdictRows(
      graft.ops.Dedup.maintenanceVerdicts(state, labels))
    val batch = verdictRows(
      graft.ops.Dedup.incrementalClusters(spark, TestSpark.sfDir))
    assert(streamed.nonEmpty && streamed == batch,
      "the streamed parent table must compose to the batch d32 verdicts")
  }

  test("StreamingClusterMaintenance restart replays the uncommitted batch exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val arrivals = Tables.documents(spark, TestSpark.sfDir)
      .filter($"doc_id" % 5 === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val slices = Seq(arrivals.take(arrivals.length / 3),
      arrivals.slice(arrivals.length / 3, 2 * arrivals.length / 3),
      arrivals.drop(2 * arrivals.length / 3))
    val out = java.nio.file.Files.createTempDirectory("graft-scm2-out").toString
    val st = java.nio.file.Files.createTempDirectory("graft-scm2-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scm2-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    def start() = graft.streaming.StreamingClusterMaintenance.run(
      stream, TestSpark.sfDir, out, st, ckpt)
    val q1 = start()
    try {
      input.addData(slices(0).toSeq); q1.processAllAvailable()
      input.addData(slices(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // crash between offset log and commit: batch 1 replays against the
    // UNCHANGED batch-0 snapshot and must rewrite identical state
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 1
      input.addData(slices(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()
    def verdictRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2), r.getBoolean(3)))
        .sortBy(_._1).toSeq
    val labels = graft.ops.Dedup.histClusterLabels(spark, TestSpark.sfDir)
    val streamed = verdictRows(graft.ops.Dedup.maintenanceVerdicts(
      spark.read.parquet(s"$st/batch_id=2"), labels))
    val batch = verdictRows(
      graft.ops.Dedup.incrementalClusters(spark, TestSpark.sfDir))
    assert(streamed == batch)
  }

  test("StreamingDsir: streamed scores equal batch t49 from the frozen disk model; replay exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // Stream the WHOLE corpus: scoring it against its own frozen model
    // must reproduce t49 bit for bit, which simultaneously pins
    // batch-composition (three arbitrary splits) and the formula.
    val arrivals = Tables.documents(spark, TestSpark.sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    // Durable frozen model — the run must stand on the disk form alone.
    val root = java.nio.file.Files.createTempDirectory("graft-dsir-idx").toString
    graft.ops.TextOps.persistDsirModel(spark, TestSpark.sfDir, root)
    val out = java.nio.file.Files.createTempDirectory("graft-dsir-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dsir-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    def start() = graft.streaming.StreamingDsir.run(stream, root, out, ckpt)
    val q1 = start()
    try {
      input.addData(arrivals.take(arrivals.length / 3).toSeq)
      q1.processAllAvailable()
      input.addData(arrivals.slice(arrivals.length / 3, arrivals.length / 2).toSeq)
      q1.processAllAvailable()
      input.addData(arrivals.drop(arrivals.length / 2).toSeq)
      q1.processAllAvailable()
    } finally q1.stop()
    // Crash between offset log and commit: drop the LAST commit marker
    // — the frozen-model door must rewrite identical bytes on replay.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L, 2L))
    val lastId = commits.last.getName.toLong
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.$lastId.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = graft.ops.TextOps.dsirWeights(spark, TestSpark.sfDir)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0,
      "streamed scores must be bit-identical to t49 (same folds, same platform_ln)")
    assert(batchRun.except(streamed).count() == 0)
    // the fixture must exercise both verdicts
    val sel = streamed.groupBy($"selected").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(sel.keySet == Set(true, false), s"degenerate selection split: $sel")
  }

  test("StreamingJm: streamed scores equal batch t54 from the frozen disk model; replay exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // Stream the whole corpus against its own frozen model with the
    // frozen threshold = the batch t54 median: the union must
    // reproduce t54 bit for bit, including the keep verdicts.
    val arrivals = Tables.documents(spark, TestSpark.sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val root = java.nio.file.Files.createTempDirectory("graft-jm-idx").toString
    graft.ops.TextOps.persistJmModel(spark, TestSpark.sfDir, root)
    val batchT54 = graft.ops.TextOps.jmQualityFilter(spark, TestSpark.sfDir)
      .localCheckpoint()
    // the snapshot's shipped bar: t54's quantized median cell (the
    // registered keep rule, exact for novel arrivals too)
    val barCell = graft.ops.TextOps.jmScoredWithBar(spark, TestSpark.sfDir)
      ._2.head().getLong(0)
    val out = java.nio.file.Files.createTempDirectory("graft-jm-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-jm-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    def start() = graft.streaming.StreamingJm.run(stream, root, barCell, out, ckpt)
    val q1 = start()
    try {
      input.addData(arrivals.take(arrivals.length / 2).toSeq)
      q1.processAllAvailable()
      input.addData(arrivals.drop(arrivals.length / 2).toSeq)
      q1.processAllAvailable()
    } finally q1.stop()
    // forced replay of the last batch — identical bytes
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    val lastId = commits.last.getName.toLong
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.$lastId.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .select($"doc_id", $"n_bigrams", $"n_oov", $"avg_nll", $"keep")
    val expect = batchT54
      .select($"doc_id", $"n_bigrams", $"n_oov", $"avg_nll", $"keep")
    assert(streamed.count() == expect.count())
    assert(streamed.except(expect).count() == 0,
      "streamed JM scores must be bit-identical to batch t54")
    assert(expect.except(streamed).count() == 0)
    // both verdicts exercised
    val kept = streamed.filter($"keep").count()
    assert(kept > 0 && kept < streamed.count())
  }

  test("StreamingCampaign: composed door equals the batch chain AND the solo doors; replay exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    // History = the %5!=0 slice (the StreamingAdmission convention);
    // arrivals = the %5==0 slice streamed in 3 batches. All frozen
    // structures ship under ONE indexDir, the production snapshot
    // shape.
    val docs = Tables.documents(spark, TestSpark.sfDir).select($"doc_id", $"text")
    val hist = docs.filter($"doc_id" % 5 =!= 0).localCheckpoint()
    val arrivals = docs.filter($"doc_id" % 5 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    // ONE persist call ships the whole frozen snapshot — probe index,
    // bench grams, JM model + shipped threshold, DSIR model — and the
    // door then runs from the root alone (the production rotation
    // shape).
    val root = java.nio.file.Files.createTempDirectory("graft_camp_idx").toString
    graft.ops.Curation.persistCampaignSnapshot(spark, TestSpark.sfDir, hist, root)
    val barCell = graft.ops.Curation.loadCampaignBarCell(spark, root)
    // the shipped bar IS the quantized median cell batch t54 realizes
    val expectBar = graft.ops.TextOps.jmScoredWithBar(spark, TestSpark.sfDir)
      ._2.head().getLong(0)
    assert(barCell == expectBar)
    val batches = Seq(
      arrivals.take(arrivals.length / 3),
      arrivals.slice(arrivals.length / 3, 2 * arrivals.length / 3),
      arrivals.drop(2 * arrivals.length / 3))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_camp_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_camp_out").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    def start() = graft.streaming.StreamingCampaign
      .runFromSnapshot(stream, root, out, ckpt)
    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // Forced replay of the last batch — identical bytes under the
    // same batch id.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.last.delete())
    val crc = new java.io.File(
      s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try {
      q2.processAllAvailable() // replays the dropped batch
      input.addData(batches(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()
    val streamed = spark.read.parquet(out).drop("batch_id").localCheckpoint()
    assert(streamed.count() == arrivals.length.toLong)
    // 1. The composed door == the ONE-SHOT batch chain on the same
    //    arrivals against the same frozen sidecars, bit for bit.
    val arrivalsDf = arrivals.toSeq.toDF("doc_id", "text").localCheckpoint()
    val idx = graft.ops.Dedup.loadTextProbeIndex(spark, root)
    val grams = graft.ops.CorpusIndexes.readSidecar(spark, root, "bench_grams")
    val (runi, rbg, ctx) = graft.ops.TextOps.loadJmModel(spark, root)
    val dsirModel = graft.ops.TextOps.loadDsirModel(spark, root)
    val oneShot = graft.ops.Curation.campaignProbeBatch(
      arrivalsDf, idx, grams, runi, rbg, ctx, barCell, dsirModel)
      .localCheckpoint()
    assert(streamed.except(oneShot).count() == 0)
    assert(oneShot.except(streamed).count() == 0)
    // Kept-set bit for bit (the round-17 verdict's Done criterion).
    val keptStream = streamed.filter($"admit").select($"doc_id")
    val keptBatch = oneShot.filter($"admit").select($"doc_id")
    assert(keptStream.except(keptBatch).count() == 0)
    assert(keptBatch.except(keptStream).count() == 0)
    // 2. The composed stages == the SOLO doors' verdicts composed by
    //    the same first-failing-gate precedence — nothing about
    //    composition changed any gate's solo decision.
    val adm = graft.ops.Dedup.admissionProbeIndexed(arrivalsDf, idx, grams)
    val jm = graft.ops.TextOps.jmScoreDocs(arrivalsDf, runi, rbg, ctx, barCell)
      .select($"doc_id", $"keep".as("jm_keep"))
    val ds = graft.ops.TextOps.dsirScoreBatch(arrivalsDf, dsirModel)
      .select($"doc_id", $"selected")
    val derived = adm
      .join(jm, Seq("doc_id"), "left")
      .join(ds, Seq("doc_id"), "left")
      .withColumn("stage",
        when($"low_quality", "quality")
          .when($"exact_dup" || $"near_dup" || $"sim_dup", "dedup")
          .when($"contaminated", "decontam")
          .when(!coalesce($"jm_keep", lit(true)), "lm_quality")
          .when(!coalesce($"selected", lit(true)), "dsir")
          .otherwise("kept"))
      .select($"doc_id", $"stage")
    assert(streamed.select($"doc_id", $"stage").except(derived).count() == 0)
    assert(derived.except(streamed.select($"doc_id", $"stage")).count() == 0)
    // 3. Funnel conservation: the stages partition the arrivals, and
    //    the chain actually exercises multiple gates on this corpus.
    val byStage = streamed.groupBy($"stage").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage.values.sum == arrivals.length.toLong)
    assert(byStage.getOrElse("kept", 0L) > 0, "some arrivals must survive")
    assert(byStage.size >= 2, s"only one stage fired: $byStage")
    // 4. SNAPSHOT ROTATION (the second-generation discipline): build a
    //    NEW snapshot whose history includes the arrivals themselves,
    //    point a fresh run at the new root, and every arrival must now
    //    die at the dedup gate (each is an exact dup of its own
    //    historical copy) — proving a rotated root actually changes
    //    the verdicts (no state bleeds across runs or roots).
    val root2 = java.nio.file.Files.createTempDirectory("graft_camp_idx2").toString
    graft.ops.Curation.persistCampaignSnapshot(spark, TestSpark.sfDir,
      docs.localCheckpoint(), root2)
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_camp_ckpt2").toString
    val out2 = java.nio.file.Files.createTempDirectory("graft_camp_out2").toString
    val input2 = MemoryStream[(Long, String)]
    val stream2 = input2.toDF().toDF("doc_id", "text")
    val q3 = graft.streaming.StreamingCampaign
      .runFromSnapshot(stream2, root2, out2, ckpt2)
    try {
      input2.addData(arrivals.toSeq); q3.processAllAvailable()
    } finally q3.stop()
    val gen2 = spark.read.parquet(out2)
    assert(gen2.count() == arrivals.length.toLong)
    val nonDedup = gen2.filter($"stage" =!= "dedup" && $"stage" =!= "quality")
      .count()
    // quality fires BEFORE dedup in the precedence, so low-quality
    // arrivals still die there; everything else must die at dedup.
    assert(nonDedup == 0,
      s"rotated-root arrivals must all fail quality or dedup; $nonDedup escaped")
    assert(gen2.filter($"stage" === "dedup").count() > 0)
  }

  test("StreamingLru: transformWithState reproduces the reference producer's bounded dedup set; replay exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // Arrivals keyed by a title digest (the reference keys on
    // url/title — the leading-characters digest is this corpus's
    // analog: full texts are all distinct here, leading spans repeat),
    // in doc_id order; maxsize 40 realizes all three behaviors on
    // this fixture (measured: 6 in-window drops, 454 evictions, 17
    // re-admitted keys).
    val arrivals = Tables.documents(spark, TestSpark.sfDir)
      .selectExpr("doc_id", "md5(substring(text, 1, 30)) AS key")
      .as[(Long, String)].collect().sortBy(_._1)
      .zipWithIndex.map { case ((id, k), i) => (i.toLong, id, k) }
    val maxsize = 40
    // Driver replay of news_producer.py's LRUSet usage (membership
    // check WITHOUT recency refresh; insertion-order eviction).
    val expected = {
      val order = scala.collection.mutable.ArrayDeque.empty[String]
      val members = scala.collection.mutable.HashSet.empty[String]
      arrivals.map { case (seq, id, k) =>
        if (members.contains(k)) (seq, id, k, false, null: String)
        else {
          order.append(k); members.add(k)
          val ev = if (order.size > maxsize) {
            val h = order.removeHead(); members.remove(h); h
          } else null
          (seq, id, k, true, ev)
        }
      }.toSeq
    }
    val emittedN = expected.count(_._4)
    assert(emittedN < arrivals.length, "duplicates must be dropped")
    assert(expected.exists(_._5 != null), "eviction must occur")
    // re-admission: some key emitted twice (dup arriving after its
    // first copy was evicted)
    assert(expected.filter(_._4).groupBy(_._3).exists(_._2.size > 1),
      "an evicted key must be re-admitted on this fixture")
    val batches = Seq(
      arrivals.take(arrivals.length / 3),
      arrivals.slice(arrivals.length / 3, 2 * arrivals.length / 3),
      arrivals.drop(2 * arrivals.length / 3))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lru_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_lru_out").toString
    val input = MemoryStream[(Long, Long, String)]
    val stream = input.toDF().toDF("seq", "doc_id", "key")
    def start() = graft.streaming.StreamingLru.run(stream, maxsize, out, ckpt)
    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // Forced replay: drop the last commit; the state store reloads
    // version n-1 and the batch_id overwrite rewrites identical bytes.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try {
      q2.processAllAvailable()
      input.addData(batches(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .select($"seq", $"doc_id", $"key", $"emitted", $"evicted")
      .as[(Long, Long, String, Boolean, String)]
      .collect().sortBy(_._1).toSeq
    assert(streamed == expected,
      "streamed verdicts must replay the reference LRUSet exactly")
  }

  test("StreamingLru: a batch violating the seq-order contract fails loudly") {
    // The per-batch sort restores only intra-batch order, so a later
    // batch delivering a smaller seq would silently diverge from the
    // reference producer's strict arrival-order replay — the door's
    // contract is batches partition the seq order, and the max-seen
    // seq carried in state turns a violation into a query failure
    // instead of a plausible-looking wrong verdict stream.
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lruo_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_lruo_out").toString
    val input = MemoryStream[(Long, Long, String)]
    val stream = input.toDF().toDF("seq", "doc_id", "key")
    val q = graft.streaming.StreamingLru.run(stream, 40, out, ckpt)
    try {
      input.addData(Seq((10L, 1L, "a"), (11L, 2L, "b")))
      q.processAllAvailable()
      // a LATE batch: seq 5 arrives after 11 was processed
      input.addData(Seq((5L, 3L, "c")))
      val ex = intercept[Exception](q.processAllAvailable())
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
      assert(chain(ex).exists(m => m != null && m.contains("out-of-order arrival")),
        s"expected the seq-order guard, got: ${chain(ex).mkString(" | ")}")
    } finally q.stop()
  }

  test("StreamingRecentHistory: ListState window + MapState counters replay the driver model; replay exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val k = 5
    // arrivals in event-time order over the real per-user event log —
    // seq is the global arrival ordinal (per-user order is a subset)
    val arrivals = Tables.events(spark, TestSpark.sfDir)
      .select($"ts", $"user_id", $"event_type")
      .as[(java.sql.Timestamp, Long, String)].collect()
      .sortBy(r => (r._1.getTime, r._2, r._3))
      .zipWithIndex.map { case ((_, u, t), i) => (i.toLong, u, t) }
    // driver replay of the processor's model
    val expected = {
      val win = scala.collection.mutable.Map.empty[Long, Vector[String]]
      val cnt = scala.collection.mutable.Map.empty[(Long, String), Long]
      arrivals.map { case (seq, u, t) =>
        val w = win.getOrElse(u, Vector.empty)
        val c = cnt.getOrElse((u, t), 0L) + 1L
        cnt((u, t)) = c
        win(u) = (w :+ t).takeRight(k)
        (seq, u, t, w.size, w.count(_ == t), c)
      }.toSeq
    }
    // the fixture must realize full windows AND in-window repeats
    assert(expected.exists(_._4 == k), "some user must fill the window")
    assert(expected.exists(_._5 > 1), "some arrival must repeat in-window")
    val batches = Seq(
      arrivals.take(arrivals.length / 3),
      arrivals.slice(arrivals.length / 3, 2 * arrivals.length / 3),
      arrivals.drop(2 * arrivals.length / 3))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rh_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_rh_out").toString
    val input = MemoryStream[(Long, Long, String)]
    val stream = input.toDF().toDF("seq", "user_id", "event_type")
    def start() = graft.streaming.StreamingRecentHistory.run(stream, k, out, ckpt)
    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // forced replay: drop the last commit; RocksDB restores version
    // n-1 and the batch_id overwrite rewrites identical bytes
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try {
      q2.processAllAvailable()
      input.addData(batches(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .select($"seq", $"user_id", $"event_type", $"n_recent",
        $"n_same_recent", $"type_count")
      .as[(Long, Long, String, Int, Int, Long)]
      .collect().sortBy(_._1).toSeq
    assert(streamed == expected,
      "streamed verdicts must replay the driver history model exactly")
  }

  test("StreamingSpanDedup: streamed spans compose to batch d36 from the disk index; replay exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val arrivals = Tables.documents(spark, TestSpark.sfDir)
      .filter($"doc_id" % 5 === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    // Durable gram sidecar — the run must stand on the disk form alone.
    val root = java.nio.file.Files.createTempDirectory("graft-span-idx").toString
    graft.ops.Dedup.persistSpanGramIndex(spark, TestSpark.sfDir, root)
    val out = java.nio.file.Files.createTempDirectory("graft-span-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-span-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    def start() = graft.streaming.StreamingSpanDedup.run(
      stream, index = null, out, ckpt, indexDir = Some(root))
    val q1 = start()
    try {
      input.addData(arrivals.take(arrivals.length / 2).toSeq)
      q1.processAllAvailable()
      input.addData(arrivals.drop(arrivals.length / 2).toSeq)
      q1.processAllAvailable()
    } finally q1.stop()
    // Crash between offset log and commit: drop the LAST commit marker
    // (and its stale .crc) — the stateless door must rewrite identical
    // bytes for the replayed batch.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val lastId = commits.last.getName.toLong
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.$lastId.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = graft.ops.Dedup.incrementalSpanProbe(spark, TestSpark.sfDir)
    assert(streamed.count() > 0, "fixture must carry historical spans into arrivals")
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  // ---- StreamingAttribution: the stream-stream interval join ------

  /** The e10 fixture split into its two event-time-ordered streams. */
  private def attributionFeeds(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    val e = Tables.events(spark, TestSpark.sfDir)
      .select($"event_id", $"user_id", $"ts", $"event_type")
      .as[(Long, Long, java.sql.Timestamp, String)].collect().sortBy(_._3.getTime)
    val purchases = e.filter(_._4 == "purchase").map(r => (r._1, r._2, r._3))
    val signups = e.filter(_._4 == "signup").map(r => (r._1, r._2, r._3))
    (purchases, signups)
  }

  private def attributionBatch(spark: org.apache.spark.sql.SparkSession) =
    graft.ops.EventOps.purchaseSignupRange(spark, TestSpark.sfDir)
      .select("purchase_id", "user_id", "signup_id")

  test("StreamingAttribution: two watermarked streams compose to batch e10") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val (purchases, signups) = attributionFeeds(spark)
    assert(purchases.nonEmpty && signups.nonEmpty)
    val out = java.nio.file.Files.createTempDirectory("graft_attr_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_attr_ckpt").toString
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val sIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = graft.streaming.StreamingAttribution.run(
      pIn.toDF().toDF("purchase_id", "user_id", "p_ts"),
      sIn.toDF().toDF("signup_id", "s_user_id", "s_ts"), out, ckpt)
    try {
      // Three uneven event-time-ordered slices per stream: a purchase
      // may match a signup from an EARLIER slice (the 7-day reach-back
      // the state store must hold) or from the same one.
      for (i <- 0 until 3) {
        val ps = purchases.slice(i * purchases.length / 3,
          (i + 1) * purchases.length / 3)
        val ss = signups.slice(i * signups.length / 3,
          (i + 1) * signups.length / 3)
        pIn.addData(ps.toSeq); sIn.addData(ss.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = attributionBatch(spark)
    assert(streamed.count() > 0, "fixture must produce matches")
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("StreamingAttribution restart replays the uncommitted batch exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val (purchases, signups) = attributionFeeds(spark)
    val out = java.nio.file.Files.createTempDirectory("graft_attrr_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_attrr_ckpt").toString
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val sIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def start() = graft.streaming.StreamingAttribution.run(
      pIn.toDF().toDF("purchase_id", "user_id", "p_ts"),
      sIn.toDF().toDF("signup_id", "s_user_id", "s_ts"), out, ckpt)

    val q1 = start()
    try {
      pIn.addData(purchases.take(purchases.length / 2).toSeq)
      sIn.addData(signups.take(signups.length / 2).toSeq)
      q1.processAllAvailable()
      pIn.addData(purchases.drop(purchases.length / 2).toSeq)
      sIn.addData(signups.drop(signups.length / 2).toSeq)
      q1.processAllAvailable()
    } finally q1.stop()
    // Crash between offset log and commit: drop the LAST commit marker
    // (and its stale .crc), forcing a replay of that batch — with the
    // join state restored from the checkpoint — under the same id.
    val commitDir = new java.io.File(s"$ckpt/commits")
    val commits = commitDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val lastId = commits.last.getName.toLong
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.$lastId.crc")
    if (crc.exists()) assert(crc.delete())

    val q2 = start()
    try q2.processAllAvailable() // replays the dropped batch
    finally q2.stop()

    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = attributionBatch(spark)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  // ---- StreamingAttributionOuter: the LEFT OUTER interval join ----

  /** Far-future sentinel rows (user −1, matches nothing real): push
    * both side's watermarks past every real purchase's 7-day window so
    * the final tick flushes all pending NULL-extended rows.
    */
  private def outerSentinel(maxTs: Long) = {
    val t = new java.sql.Timestamp(maxTs + 40L * 24 * 3600 * 1000)
    (-1L, -1L, t)
  }

  private def outerBatch(spark: org.apache.spark.sql.SparkSession) =
    graft.ops.EventOps.purchaseSignupOuter(spark, TestSpark.sfDir)
      .select("purchase_id", "user_id", "signup_id")

  test("StreamingAttributionOuter: NULL rows flush at the watermark; union equals batch e29") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val (purchases, signups) = attributionFeeds(spark)
    val maxTs = (purchases ++ signups).map(_._3.getTime).max
    val out = java.nio.file.Files.createTempDirectory("graft_attro_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_attro_ckpt").toString
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val sIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = graft.streaming.StreamingAttributionOuter.run(
      pIn.toDF().toDF("purchase_id", "user_id", "p_ts"),
      sIn.toDF().toDF("signup_id", "s_user_id", "s_ts"), out, ckpt)
    try {
      for (i <- 0 until 3) {
        val ps = purchases.slice(i * purchases.length / 3,
          (i + 1) * purchases.length / 3)
        val ss = signups.slice(i * signups.length / 3,
          (i + 1) * signups.length / 3)
        pIn.addData(ps.toSeq); sIn.addData(ss.toSeq)
        q.processAllAvailable()
      }
      // Absence is provable only BEHIND the watermark: every
      // null-extended row emitted so far must belong to a purchase the
      // global watermark (min of both sides' max event time, minus the
      // 1h delay) has already passed — a null row for a fresher
      // purchase would be an eager absence claim a late signup could
      // still contradict. (The slices advance event time as they
      // stream, so most windows close before the sentinel; the
      // assertion pins WHICH may.)
      val earlyNull = spark.read.parquet(out).drop("batch_id")
        .filter($"purchase_id" >= 0 && $"signup_id".isNull)
        .select($"purchase_id").as[Long].collect().toSet
      val wm = math.min(purchases.map(_._3.getTime).max,
        signups.map(_._3.getTime).max) - 3600L * 1000
      val pts = purchases.map(r => r._1 -> r._3.getTime).toMap
      assert(earlyNull.forall(id => pts(id) < wm),
        "null-extended rows must trail the watermark")
      // Close every window: sentinel through BOTH streams, two ticks
      // (one to advance the watermark from the new max event time, one
      // to evict and emit against it).
      val sent = outerSentinel(maxTs)
      pIn.addData(sent); sIn.addData(sent)
      q.processAllAvailable()
      pIn.addData(outerSentinel(maxTs + 1)); sIn.addData(outerSentinel(maxTs + 1))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
      .filter($"purchase_id" >= 0)
    val batchRun = outerBatch(spark)
    assert(batchRun.filter($"signup_id".isNull).count() > 0,
      "fixture must contain unattributed purchases")
    assert(streamed.filter($"signup_id".isNull).count() ==
      batchRun.filter($"signup_id".isNull).count())
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("StreamingAttributionOuter restart replays the uncommitted batch exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val (purchases, signups) = attributionFeeds(spark)
    val maxTs = (purchases ++ signups).map(_._3.getTime).max
    val out = java.nio.file.Files.createTempDirectory("graft_attror_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_attror_ckpt").toString
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val sIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def start() = graft.streaming.StreamingAttributionOuter.run(
      pIn.toDF().toDF("purchase_id", "user_id", "p_ts"),
      sIn.toDF().toDF("signup_id", "s_user_id", "s_ts"), out, ckpt)

    val q1 = start()
    try {
      pIn.addData(purchases.toSeq); sIn.addData(signups.toSeq)
      q1.processAllAvailable()
      pIn.addData(outerSentinel(maxTs)); sIn.addData(outerSentinel(maxTs))
      q1.processAllAvailable()
      pIn.addData(outerSentinel(maxTs + 1)); sIn.addData(outerSentinel(maxTs + 1))
      q1.processAllAvailable()
    } finally q1.stop()
    // Crash between offset log and commit: drop the LAST commit marker,
    // forcing a replay of the watermark-flush batch — the one carrying
    // the outer join's null-extended evictions.
    val commitDir = new java.io.File(s"$ckpt/commits")
    val commits = commitDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val lastId = commits.last.getName.toLong
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.$lastId.crc")
    if (crc.exists()) assert(crc.delete())

    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()

    val streamed = spark.read.parquet(out).drop("batch_id")
      .filter($"purchase_id" >= 0)
    val batchRun = outerBatch(spark)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("flatMapGroupsWithState keeps custom per-key state across triggers") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val ds = input.toDS()
    val runningMax = ds.groupByKey(_._1)
      .flatMapGroupsWithState[Double, (Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[Double]) =>
          val mx = (rows.map(_._2) ++ state.getOption.iterator).max
          state.update(mx)
          Iterator((user, mx))
      }
    val q = runningMax.toDF("user_id", "max_v").writeStream
      .format("memory").queryName("fmgws").outputMode("append").start()
    try {
      input.addData((1L, 5.0), (1L, 3.0), (2L, 1.0))
      q.processAllAvailable()
      input.addData((1L, 4.0), (2L, 9.0))
      q.processAllAvailable()
      val out = spark.table("fmgws").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // batch 1: max(5,3)=5 for user1, 1 for user2; batch 2: state kept →
      // user1 stays 5 (4 < 5), user2 rises to 9
      assert(out.count { case (u, v) => u == 1L && v == 5.0 } == 2)
      assert(out.contains((2L, 1.0)) && out.contains((2L, 9.0)))
    } finally q.stop()
  }

  test("StreamingStickiness: final tick equals batch e27 under an out-of-order split; replay exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // corpus events split by REVERSED day: the oldest days arrive in
    // the LAST batch, so every trailing window that the early ticks
    // emitted was provisional — only state-folding (not arrival
    // order) can make the final tick exact
    val ev = graft.Tables.events(spark, TestSpark.sfDir)
      .selectExpr("ts", "user_id")
      .as[(java.sql.Timestamp, Long)].collect()
      .sortBy { case (ts, u) => (-ts.getTime, u) }
    val batches = Seq(ev.take(ev.length / 3),
      ev.slice(ev.length / 3, 2 * ev.length / 3),
      ev.drop(2 * ev.length / 3))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stick_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_stick_out").toString
    val st = java.nio.file.Files.createTempDirectory("graft_stick_state").toString
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val stream = input.toDF().toDF("ts", "user_id")
    def start() = graft.streaming.StreamingStickiness.run(stream, out, st, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // crash before the commit marker: batch 1 must refold from
    // snapshot 0 and rewrite identical bytes, never double-fold
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 1 against snapshot 0
      input.addData(batches(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val finalTick = rows(spark.read.parquet(s"$out/batch_id=2"))
    val batchRun = rows(SparkEntry.queries("e27_stickiness")(spark, TestSpark.sfDir))
    assert(finalTick == batchRun,
      "the final tick must equal batch e27 over the same arrivals")
    // provisional ticks are honest over their own prefix: tick 0 equals
    // e27 over batch-0 arrivals alone
    val tick0 = rows(spark.read.parquet(s"$out/batch_id=0"))
    val prefix = rows(graft.ops.EventOps.stickinessOver(
      graft.ops.EventOps.dayUserActivity(batches(0).toSeq.toDF("ts", "user_id"))))
    assert(tick0 == prefix)
  }

  test("StreamingPeriodicity: final tick equals batch e30 under an out-of-order split; replay exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // reversed-time split: the oldest hours arrive LAST, so only the
    // additive state fold (never arrival order) makes the final
    // autocorrelation exact
    val ev = graft.Tables.events(spark, TestSpark.sfDir)
      .selectExpr("event_type", "ts")
      .as[(String, java.sql.Timestamp)].collect()
      .sortBy { case (t, ts) => (-ts.getTime, t) }
    val batches = Seq(ev.take(ev.length / 3),
      ev.slice(ev.length / 3, 2 * ev.length / 3),
      ev.drop(2 * ev.length / 3))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_per_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_per_out").toString
    val st = java.nio.file.Files.createTempDirectory("graft_per_state").toString
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("event_type", "ts")
    def start() = graft.streaming.StreamingPeriodicity.run(stream, out, st, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // crash before the commit marker: batch 1 must refold from
    // snapshot 0 and rewrite identical bytes, never double-count
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 1 against snapshot 0
      input.addData(batches(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getDouble(8), r.getBoolean(9)))
      .sortBy(_._1).toSeq
    val finalTick = rows(spark.read.parquet(s"$out/batch_id=2"))
    val batchRun = rows(SparkEntry.queries("e30_periodicity")(spark, TestSpark.sfDir))
    assert(finalTick == batchRun,
      "the final tick must equal batch e30 over the same arrivals")
    // provisional ticks are honest over their own prefix
    val tick0 = rows(spark.read.parquet(s"$out/batch_id=0"))
    val prefix = rows(graft.ops.EventOps.periodicityOver(
      graft.ops.EventOps.hourlyCounts(batches(0).toSeq.toDF("event_type", "ts"))))
    assert(tick0 == prefix)
  }

  test("StreamingGini: final tick equals batch e33 under a shuffled split; replay exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // adversarial split: users interleave across batches (sorted by
    // event_id mod 7), so only the additive per-user fold — never any
    // per-batch completeness — makes the final rank exact
    val ev = graft.Tables.events(spark, TestSpark.sfDir)
      .selectExpr("event_id", "user_id")
      .as[(Long, Long)].collect()
      .sortBy { case (id, u) => (id % 7, u, id) }
      .map(_._2)
    val batches = Seq(ev.take(ev.length / 3),
      ev.slice(ev.length / 3, 2 * ev.length / 3),
      ev.drop(2 * ev.length / 3))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_gini_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_gini_out").toString
    val st = java.nio.file.Files.createTempDirectory("graft_gini_state").toString
    val input = MemoryStream[Long]
    val stream = input.toDF().toDF("user_id")
    def start() = graft.streaming.StreamingGini.run(stream, out, st, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // crash before the commit marker: batch 1 must refold from
    // snapshot 0 and rewrite identical bytes, never double-count
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 1 against snapshot 0
      input.addData(batches(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val finalTick = rows(spark.read.parquet(s"$out/batch_id=2"))
    val batchRun = rows(SparkEntry.queries("e33_activity_gini")(spark, TestSpark.sfDir))
    assert(finalTick == batchRun,
      "the final tick must equal batch e33 over the same arrivals")
    // provisional ticks are honest over their own prefix
    val tick0 = rows(spark.read.parquet(s"$out/batch_id=0"))
    val prefix = rows(graft.ops.EventOps.giniOver(
      graft.ops.EventOps.userCounts(batches(0).toSeq.toDF("user_id"))))
    assert(tick0 == prefix)
  }

  test("StreamingGini pins nothing per trigger: the persistent-RDD set does not grow with triggers") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val sc = spark.sparkContext
    val users = graft.Tables.events(spark, TestSpark.sfDir)
      .select("user_id").as[Long].collect()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_gini_res_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_gini_res_out").toString
    val st = java.nio.file.Files.createTempDirectory("graft_gini_res_state").toString
    val input = MemoryStream[Long]
    val before = sc.getPersistentRDDs.keySet
    val q = graft.streaming.StreamingGini.run(input.toDF().toDF("user_id"), out, st, ckpt)
    val pinned = try {
      users.grouped((users.length + 4) / 5).toSeq.map { part =>
        input.addData(part.toSeq); q.processAllAvailable()
        (sc.getPersistentRDDs.keySet -- before).size
      }
    } finally q.stop()
    assert(pinned.length >= 4, s"only ${pinned.length} triggers ran")
    assert(new java.io.File(out).list().count(_.startsWith("batch_id=")) == pinned.length)
    assert(pinned.forall(_ == pinned.head),
      s"pinned RDDs per trigger grew: ${pinned.mkString(", ")}")
  }

  test("StreamingCms: final sketch equals batch CMS; state constant-size; replay exactly-once") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val ev = graft.Tables.events(spark, TestSpark.sfDir)
      .selectExpr("event_id", "user_id")
      .as[(Long, Long)].collect()
      .sortBy { case (id, u) => (id % 5, u, id) }
      .map(_._2)
    val batches = Seq(ev.take(ev.length / 3),
      ev.slice(ev.length / 3, 2 * ev.length / 3),
      ev.drop(2 * ev.length / 3))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cms_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cms_out").toString
    val st = java.nio.file.Files.createTempDirectory("graft_cms_state").toString
    val input = MemoryStream[Long]
    val stream = input.toDF().toDF("user_id")
    def start() = graft.streaming.StreamingCms.run(stream, out, st, ckpt)

    val q1 = start()
    try {
      input.addData(batches(0).toSeq); q1.processAllAvailable()
      input.addData(batches(1).toSeq); q1.processAllAvailable()
    } finally q1.stop()
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.1.crc")
    if (crc.exists()) assert(crc.delete())
    val q2 = start()
    try {
      q2.processAllAvailable()
      input.addData(batches(2).toSeq); q2.processAllAvailable()
    } finally q2.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .sortBy(_._1).toSeq
    val finalTick = rows(spark.read.parquet(s"$out/batch_id=2"))
    val batchCms = rows(graft.ops.EventOps.cmsOver(graft.ops.EventOps.userCounts(
      graft.Tables.events(spark, TestSpark.sfDir).select($"user_id"))))
    assert(finalTick == batchCms,
      "the final sketch must equal the batch CMS over the same arrivals")
    // the whole point of the door: state is ≤ 4×64 counters at EVERY
    // tick, whatever arrived
    for (b <- 0 to 2) {
      val n = spark.read.parquet(s"$st/batch_id=$b").count()
      assert(n <= 256L, s"tick $b state has $n rows")
    }
  }

  test("streaming dynamic-gap sessions equal batch e43; forced replay stays exactly-once") {
    // The e43 door: the session-merge exec must honor the PER-EVENT gap
    // under streaming too — a purchase's 30-minute reach keeps its
    // session open across micro-batch boundaries (the watermark may only
    // close a session past its RUNNING-MAX end, not the last event's own
    // 10-minute reach). A sentinel 3 days past the log closes every real
    // session; a dropped commit marker forces one batch to replay from
    // checkpoint-restored session state.
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val evs = Tables.events(spark, TestSpark.sfDir)
      .select($"ts", $"user_id", $"event_type")
      .as[(java.sql.Timestamp, Long, String)].collect().sortBy(_._1.getTime)
    val batches = Seq(
      evs.take(evs.length / 3),
      evs.slice(evs.length / 3, 2 * evs.length / 3),
      evs.drop(2 * evs.length / 3))
    val sentinel = new java.sql.Timestamp(
      evs.map(_._1.getTime).max + 3L * 24 * 3600 * 1000)
    val out = java.nio.file.Files.createTempDirectory("graft_dsn_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dsn_ckpt").toString
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val stream = input.toDF().toDF("ts", "user_id", "event_type")
    def start() = graft.streaming.StreamingDynamicSessions.run(stream, out, ckpt)

    val q1 = start()
    try {
      batches.take(2).foreach { b =>
        input.addData(b.toSeq); q1.processAllAvailable()
      }
    } finally q1.stop()
    // crash between offset log and commit: drop the last commit marker
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val lastId = commits.last.getName.toLong
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.$lastId.crc")
    if (crc.exists()) assert(crc.delete())

    val q2 = start()
    try {
      q2.processAllAvailable() // replays the dropped batch
      input.addData(batches(2).toSeq); q2.processAllAvailable()
      input.addData(Seq((sentinel, -1L, "view"))); q2.processAllAvailable()
    } finally q2.stop()

    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = SparkEntry.queries("e43_dynamic_sessions")(spark, TestSpark.sfDir)
    assert(streamed.count() > 0, "fixture must close at least one session")
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("chained stateful operators: hour histogram over session_window equals batch e44; replay exactly-once") {
    // TWO stateful aggregates in one streaming query (session merge →
    // tumbling-hour rollup of session closes). The watermark must
    // propagate THROUGH the session operator: an hour bucket may only
    // finalize once no session can ever again close inside it. A
    // sentinel 3 days out drains every real bucket; a dropped commit
    // forces a replay through BOTH operators' checkpointed state.
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val evs = Tables.events(spark, TestSpark.sfDir)
      .select($"ts", $"user_id")
      .as[(java.sql.Timestamp, Long)].collect().sortBy(_._1.getTime)
    val batches = Seq(
      evs.take(evs.length / 3),
      evs.slice(evs.length / 3, 2 * evs.length / 3),
      evs.drop(2 * evs.length / 3))
    val sentinel = new java.sql.Timestamp(
      evs.map(_._1.getTime).max + 3L * 24 * 3600 * 1000)
    val out = java.nio.file.Files.createTempDirectory("graft_chn_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_chn_ckpt").toString
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val stream = input.toDF().toDF("ts", "user_id")
    def start() = graft.streaming.StreamingSessionChain.run(stream, out, ckpt)

    val q1 = start()
    try {
      batches.take(2).foreach { b =>
        input.addData(b.toSeq); q1.processAllAvailable()
      }
    } finally q1.stop()
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val lastId = commits.last.getName.toLong
    assert(commits.last.delete())
    val crc = new java.io.File(s"$ckpt/commits/.$lastId.crc")
    if (crc.exists()) assert(crc.delete())

    val q2 = start()
    try {
      q2.processAllAvailable() // replays the dropped batch
      input.addData(batches(2).toSeq); q2.processAllAvailable()
      input.addData(Seq((sentinel, -1L))); q2.processAllAvailable()
    } finally q2.stop()

    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = SparkEntry.queries("e44_session_close_histogram")(
      spark, TestSpark.sfDir)
    assert(streamed.count() > 0, "fixture must finalize at least one hour bucket")
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("transformWithState declarative TTL: a value expires on schedule; the NONE control survives") {
    // The fourth typed-state facet (the doors use ValueState/ListState/
    // MapState, all with TTLConfig.NONE): a TTL'd state value must be
    // readable within its lifetime and GONE after — with a NO-TTL
    // control written in the same processor proving the disappearance
    // is the TTL firing, not restart or key loss. Both arms are
    // deterministic: within-lifetime visibility is pinned on a 1-HOUR
    // TTL (cannot expire mid-test, whatever the box does), expiry on a
    // 400 ms TTL read only after a 2 s sleep (cannot still be live);
    // the short arm's mid-test reads are deliberately unasserted —
    // they race the wall clock.
    import org.apache.spark.sql.streaming.{ListState => _, _}
    import org.apache.spark.sql.Encoders
    class TtlProcessor
        extends StatefulProcessor[String, (String, Long), TtlProbe] {
      @transient private var long_ : ValueState[Long] = _
      @transient private var short_ : ValueState[Long] = _
      @transient private var ctl: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        long_ = getHandle.getValueState[Long]("ttl_long", Encoders.scalaLong,
          TTLConfig(java.time.Duration.ofHours(1L)))
        short_ = getHandle.getValueState[Long]("ttl_short", Encoders.scalaLong,
          TTLConfig(java.time.Duration.ofMillis(400L)))
        ctl = getHandle.getValueState[Long]("ctl", Encoders.scalaLong,
          TTLConfig.NONE)
      }
      override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                                   tv: TimerValues): Iterator[TtlProbe] = {
        def read(s: ValueState[Long]) = if (s.exists()) s.get() else -1L
        val probe = TtlProbe(key, read(long_), read(short_), read(ctl))
        rows.toSeq.lastOption.foreach { r =>
          long_.update(r._2); short_.update(r._2); ctl.update(r._2)
        }
        Iterator.single(probe)
      }
    }
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    graft.streaming.Door.withRocksDb(spark) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ttl_ckpt").toString
      val input = MemoryStream[(String, Long)]
      // NOTE: processAllAvailable() is unusable here — a TTL'd state var
      // in ProcessingTime mode makes the operator request another batch
      // on every clock advance (shouldRunAnotherBatch), so "all
      // available" never settles. Pace the empty-batch churn with a real
      // trigger and poll the sink for each arrival's probe row instead.
      val q = input.toDS()
        .groupByKey(_._1)
        .transformWithState(new TtlProcessor,
          TimeMode.ProcessingTime(), OutputMode.Update())
        .writeStream.format("memory").queryName("ttl_probe")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .outputMode("update").start()
      try {
        def probes() = spark.table("ttl_probe")
          .as[TtlProbe].collect().toList
        def awaitProbes(n: Int): List[TtlProbe] = {
          val deadline = System.nanoTime() + 60L * 1000000000L
          var got = probes()
          while (got.size < n && System.nanoTime() < deadline) {
            if (q.exception.isDefined) throw q.exception.get
            Thread.sleep(100L); got = probes()
          }
          assert(got.size == n, s"expected $n probe rows, got ${got.size}")
          got
        }
        input.addData(("k", 1L)); awaitProbes(1)
        input.addData(("k", 2L))
        // batch 2 ran within the 1h TTL: the long-TTL state and the
        // control both held value 1 (the 400 ms arm races the clock —
        // unasserted here)
        assert(awaitProbes(2).map(p => (p.prior_long, p.prior_ctl)).toSet ==
          Set((-1L, -1L), (1L, 1L)))
        Thread.sleep(2000L) // far past the 400 ms TTL
        input.addData(("k", 3L))
        // the short-TTL value expired; the 1h state and the NONE control
        // still hold 2
        val last = awaitProbes(3).maxBy(_.prior_ctl)
        assert(last.prior_ctl == 2L, "the no-TTL control must survive")
        assert(last.prior_long == 2L, "the 1h-TTL value must survive")
        assert(last.prior_short == -1L,
          s"the 400ms-TTL value must be expired, still read ${last.prior_short}")
      } finally q.stop()
    }
  }
}
