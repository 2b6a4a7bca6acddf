package graft

import org.scalatest.funsuite.AnyFunSuite

/** State-store OBSERVABILITY: Spark 4 ships a batch data source over
  * streaming checkpoints (`spark.read.format("statestore")`), which is
  * the "inspect a running pipeline without stopping it" operation a
  * production deployment runs when a door misbehaves. This spec reads
  * a live door's typed transformWithState state — StreamingLru's
  * bounded dedup set — WHILE THE QUERY IS STILL RUNNING and proves the
  * stored state equals, bit for bit, the state implied by the door's
  * own emitted verdicts (insertion-ordered surviving keys + the
  * max-seen seq the order guard carries).
  */
class StateStoreReadSpec extends AnyFunSuite {

  test("statestore source reads the running LRU door's typed state; equals the verdict-implied set") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // Synthetic arrivals with planted repeats: keys cycle mod 17 over
    // a maxsize-10 set, so the run realizes drops, evictions, AND
    // re-admissions before the inspection point.
    val arrivals = (0L until 120L).map(i => (i, i, s"k${i % 17}"))
    val maxsize = 10
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssr_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ssr_out").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
    val stream = input.toDF().toDF("seq", "doc_id", "key")
    val q = graft.streaming.StreamingLru.run(stream, maxsize, out, ckpt)
    try {
      input.addData(arrivals.take(70))
      q.processAllAvailable()
      input.addData(arrivals.drop(70))
      q.processAllAvailable()

      // The door is STILL RUNNING. Read its state store as a batch
      // frame (the provider class must match the door's at read time).
      val (storedKeys, storedMaxSeq) =
        graft.streaming.Door.withRocksDb(spark) {
          val state = spark.read.format("statestore")
            .option("stateVarName", "lru").load(ckpt)
          val rows = state.selectExpr("value.keys", "value.maxSeq").collect()
          assert(rows.length == 1, s"one constant group key, got ${rows.length}")
          (rows.head.getSeq[String](0).toList, rows.head.getLong(1))
        }

      // Cross-check against the door's OWN OUTPUT: replay the emitted
      // verdicts into the set they imply — emitted keys append in seq
      // order, each evicted key removes its head occurrence.
      val verdicts = spark.read.parquet(out)
        .select($"seq", $"key", $"emitted", $"evicted")
        .as[(Long, String, Boolean, String)].collect().sortBy(_._1)
      val implied = scala.collection.mutable.ArrayBuffer.empty[String]
      verdicts.foreach { case (_, k, emitted, evicted) =>
        if (emitted) {
          implied.append(k)
          if (evicted != null) {
            assert(implied.head == evicted,
              "eviction must drop the insertion-order head")
            implied.remove(0)
          }
        }
      }
      assert(storedKeys == implied.toList,
        s"stored state $storedKeys != verdict-implied ${implied.toList}")
      assert(storedMaxSeq == verdicts.map(_._1).max,
        "the order guard's max-seen seq must be the last processed arrival")
      assert(storedKeys.size == maxsize,
        "fixture must fill the set so eviction state is inspected, not a prefix")
    } finally q.stop()
  }

  test("statestore source reads the running history door's ListState, MapState and ValueState; all equal the driver model") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val k = 5
    // arrivals over the real per-user event log (the RecentHistory
    // door's own fixture derivation)
    val arrivals = Tables.events(spark, TestSpark.sfDir)
      .select($"ts", $"user_id", $"event_type")
      .as[(java.sql.Timestamp, Long, String)].collect()
      .sortBy(r => (r._1.getTime, r._2, r._3))
      .zipWithIndex.map { case ((_, u, t), i) => (i.toLong, u, t) }
    // driver model of the final state
    val win = scala.collection.mutable.Map.empty[Long, Vector[String]]
    val cnt = scala.collection.mutable.Map.empty[(Long, String), Long]
    val last = scala.collection.mutable.Map.empty[Long, Long]
    arrivals.foreach { case (seq, u, t) =>
      win(u) = (win.getOrElse(u, Vector.empty) :+ t).takeRight(k)
      cnt((u, t)) = cnt.getOrElse((u, t), 0L) + 1L
      last(u) = seq
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssr2_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ssr2_out").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
    val stream = input.toDF().toDF("seq", "user_id", "event_type")
    val q = graft.streaming.StreamingRecentHistory.run(stream, k, out, ckpt)
    try {
      input.addData(arrivals.take(arrivals.length / 2).toSeq)
      q.processAllAvailable()
      input.addData(arrivals.drop(arrivals.length / 2).toSeq)
      q.processAllAvailable()
      // the door is STILL RUNNING — inspect all three typed state vars
      graft.streaming.Door.withRocksDb(spark) {
        def read(name: String) = spark.read.format("statestore")
          .option("stateVarName", name).load(ckpt)
        // ListState reads one row per element; compare per-user element
        // MULTISETS (read row order is not a documented contract)
        val gotWin = read("recent")
          .selectExpr("key.value AS u", "list_element.value AS t")
          .as[(Long, String)].collect()
          .groupBy(_._1).map { case (u, xs) =>
            u -> xs.map(_._2).groupBy(identity).map { case (t, o) => t -> o.length }
          }
        val wantWin = win.toMap.map { case (u, w) =>
          u -> w.groupBy(identity).map { case (t, o) => t -> o.length }
        }
        assert(gotWin == wantWin, "ListState windows diverge from the model")
        assert(gotWin.values.forall(_.values.sum <= k),
          "a stored window exceeds its bound")
        val gotCnt = read("counts")
          .selectExpr("key.value AS u", "user_map_key.value AS t",
            "user_map_value.value AS c")
          .as[(Long, String, Long)].collect()
          .map { case (u, t, c) => (u, t) -> c }.toMap
        assert(gotCnt == cnt.toMap, "MapState counters diverge from the model")
        val gotSeq = read("max_seq")
          .selectExpr("key.value AS u", "value.value AS m")
          .as[(Long, Long)].collect().toMap
        assert(gotSeq == last.toMap, "ValueState max-seen seqs diverge")
      }
    } finally q.stop()
  }

  test("statestore source reads the timer door's REGISTERED TIMERS; expiry set tracks registration and eviction") {
    // The third observability surface: event-time timers. The
    // transitions door registers one timer per live user at
    // last-event + horizon; reading the registered-timer table while
    // the query runs shows exactly the pending evictions — and after
    // the watermark fires a user's timer, that user's row is GONE
    // (the timer state is live operational truth, not an append log).
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    graft.streaming.Door.withRocksDb(spark) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ssr3_ckpt").toString
      def ts(x: String) = java.sql.Timestamp.valueOf(x)
      val horizon = 60000L
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, Long, String)]
      val stream = input.toDF().toDF("user_id", "ts", "event_id", "event_type")
      val q = graft.streaming.StreamTransitions
        .transitions(stream, watermark = "1 minute", horizonMs = horizon).toDF()
        .writeStream.format("memory").queryName("ssr3_trans")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        def timers(): Map[Long, Long] = spark.read.format("statestore")
          .option("readRegisteredTimers", "true").load(ckpt)
          .selectExpr("key.value AS u", "expiration_timestamp_ms AS exp")
          .as[(Long, Long)].collect().toMap
        val (t1, t2) = (ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00"))
        input.addData((1L, t1, 1L, "view")); q.processAllAvailable()
        assert(timers() == Map(1L -> (t1.getTime + horizon)),
          "one pending timer at last-event + horizon after batch 1")
        // batch 2 advances the watermark a day: user 1's timer FIRES
        // (state evicted) and user 2 registers a fresh one. The firing
        // happens in the NO-DATA microbatch after batch 2 commits (the
        // watermark moves at batch end; timers fire against the next
        // batch's watermark), so the read must quiesce, not merely
        // processAllAvailable — the same race class as the chained test.
        input.addData((2L, t2, 2L, "view")); TestSpark.quiesce(q)
        assert(timers() == Map(2L -> (t2.getTime + horizon)),
          "the fired timer must be gone; only user 2's pending eviction remains")
      } finally q.stop()
    }
  }

  test("multi-operator checkpoint: the catalog lists BOTH stateful stages; operatorId selects which state to read") {
    // The chained door (two stateful operators in one query) makes the
    // observability surfaces earn their keep: state-metadata must list
    // both stages, and a statestore read must be TARGETED — on a
    // multi-operator checkpoint "the state" is ambiguous until
    // operatorId picks a stage. Crafted sessions make the expected
    // state exact at each step: before any close the session stage
    // holds every open session and the hour stage is empty; after a
    // far-future sentinel drains the pipeline, only the sentinel's own
    // open session remains anywhere.
    //
    // Race discipline (the round-19 flake): both halves of this test
    // read state that a no-data microbatch can change after
    // processAllAvailable() returns. The PRE-close reads are made
    // deterministic by construction — the door runs with a 72-hour
    // watermark delay against a 2-hour fixture, so no session can
    // finalize no matter which microbatches run. The POST-drain reads
    // are made deterministic by waiting — quiesce() polls until the
    // committed batchId stops advancing, i.e. every eviction the
    // sentinel's watermark licenses has landed. The sentinel sits 19
    // days out so that even minus the 72-hour delay the watermark
    // clears every real session and hour bucket by a wide margin.
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    val out = java.nio.file.Files.createTempDirectory("graft_ssr5_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssr5_ckpt").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    val q = graft.streaming.StreamingSessionChain.run(
      input.toDF().toDF("ts", "user_id"), out, ckpt, watermark = "72 hours")
    try {
      // three open sessions: user 7 x2 (00:00-00:05, 02:00), user 9 x1
      input.addData(Seq(
        (ts("2024-01-01 00:00:00"), 7L), (ts("2024-01-01 00:05:00"), 7L),
        (ts("2024-01-01 02:00:00"), 7L), (ts("2024-01-01 00:00:00"), 9L)))
      q.processAllAvailable()

      val ops = spark.read.format("state-metadata").load(ckpt)
        .selectExpr("operatorId", "operatorName")
        .as[(Long, String)].collect().toMap
      assert(ops.size == 2, s"two stateful stages expected, got $ops")
      val sessionOp = ops.collectFirst {
        case (id, n) if n.toLowerCase.contains("session") => id }.get
      val hourOp = (ops.keySet - sessionOp).head

      def stateCount(op: Long): Long = spark.read.format("statestore")
        .option("operatorId", op).load(ckpt).count()
      assert(stateCount(sessionOp) == 3L,
        "session stage must hold exactly the three open sessions")
      assert(stateCount(hourOp) == 0L,
        "no session has closed; the hour stage must be empty")

      // sentinel 19 days out (>> the 72-hour delay): every real
      // session closes, every hour bucket finalizes and is evicted —
      // only the sentinel's own session survives anywhere in state.
      // quiesce, not processAllAvailable: the finalize/evict chain
      // runs in no-data microbatches after the data batch commits.
      input.addData(Seq((ts("2024-01-20 00:00:00"), -1L)))
      TestSpark.quiesce(q)
      assert(stateCount(sessionOp) == 1L,
        "only the sentinel's open session may remain")
      assert(stateCount(hourOp) == 0L,
        "drained hour buckets must be evicted, not retained")
      // and the emitted rows are the exact finalized histogram
      val emitted = spark.read.parquet(out)
        .selectExpr("CAST(close_hour AS STRING)", "n_sessions", "n_events")
        .as[(String, Long, Long)].collect().toSet
      assert(emitted == Set(
        ("2024-01-01 00:00:00", 2L, 3L),   // 7's first (2 ev) + 9's (1 ev)
        ("2024-01-01 02:00:00", 1L, 1L)))  // 7's second
    } finally q.stop()
  }

  test("state-metadata source catalogs a checkpoint: operator, state vars, batch span") {
    // The companion surface to `statestore`: before inspecting state
    // you have to DISCOVER it — which stateful operators a checkpoint
    // holds, under what names, across which batch range. That is what
    // an operator does first against an unfamiliar production
    // checkpoint; `spark.read.format("state-metadata")` answers it
    // without the query's code.
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    graft.streaming.Door.withRocksDb(spark) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ssr4_ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("graft_ssr4_out").toString
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
      val q = graft.streaming.StreamingRecentHistory
        .run(input.toDF().toDF("seq", "user_id", "event_type"), 3, out, ckpt)
      try {
        input.addData((0L, 1L, "view")); q.processAllAvailable()
        input.addData((1L, 1L, "click")); q.processAllAvailable()
        val meta = spark.read.format("state-metadata").load(ckpt)
          .selectExpr("operatorId", "operatorName", "stateStoreName",
            "minBatchId", "maxBatchId")
          .as[(Long, String, String, Long, Long)].collect()
        // one stateful operator (transformWithState), default store name,
        // and the batch span covering exactly the two committed batches
        assert(meta.map(_._2).distinct.toList == List("transformWithStateExec"),
          s"unexpected operator catalog: ${meta.toList}")
        assert(meta.map(_._1).distinct.toList == List(0L))
        assert(meta.map(_._3).distinct.toList == List("default"))
        assert(meta.forall(m => m._4 == 0L && m._5 == 1L),
          s"batch span must be [0, 1]: ${meta.toList}")
        // and the catalog's operator is readable by the statestore source
        // under the names the door declared — discovery is actionable
        val vars = Seq("recent", "counts", "max_seq")
        vars.foreach { v =>
          assert(spark.read.format("statestore").option("stateVarName", v)
            .load(ckpt).count() > 0L, s"cataloged var $v unreadable")
        }
      } finally q.stop()
    }
  }
}
