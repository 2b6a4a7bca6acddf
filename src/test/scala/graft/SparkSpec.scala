package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test JVM (suites run sequentially
  * in sbt's forked test JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Timestamp from a Row column that may be TIMESTAMP
    * (java.sql.Timestamp) or TIMESTAMP_NTZ (java.time.LocalDateTime —
    * how Spark 4 reads the generator's unadjusted `timestamp[us]`
    * parquet). Sessions here are UTC, so the NTZ wall-clock IS the
    * instant.
    */
  def rowTs(r: org.apache.spark.sql.Row, i: Int): java.sql.Timestamp =
    r.get(i) match {
      case t: java.sql.Timestamp => t
      case l: java.time.LocalDateTime =>
        java.sql.Timestamp.from(l.toInstant(java.time.ZoneOffset.UTC))
    }

  /** Drain a streaming query past its watermark-advancing NO-DATA
    * microbatches (the round-19 flake class): `processAllAvailable()`
    * returns once every DATA batch is committed, but a watermark that
    * moved at the last data batch's end schedules a further no-data
    * batch that finalizes windows and evicts state AFTER the call
    * returns. Any read of `statestore` contents or watermark-emitted
    * output taken in that gap races the engine. This helper settles
    * the race on the "fully drained" side: poll until the committed
    * batchId stops advancing (no-data batches commit and increment it;
    * pure idle triggers don't), so on return every eviction the
    * current watermark licenses has happened. The opposite side —
    * reading state BEFORE anything can finalize — is settled by
    * construction, not waiting: start the door with a watermark delay
    * larger than the fixture's whole event span (72 h against a 3 h
    * fixture), so no no-data batch can evict regardless of timing.
    */
  def quiesce(q: org.apache.spark.sql.streaming.StreamingQuery,
              timeoutMs: Long = 60000): Unit = {
    q.processAllAvailable()
    val deadline = System.currentTimeMillis + timeoutMs
    var stable = 0
    var last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    while (stable < 3 && System.currentTimeMillis < deadline) {
      Thread.sleep(300)
      q.processAllAvailable()
      val b = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      if (b == last) stable += 1 else { stable = 0; last = b }
    }
    // a silent timeout would hand the caller half-drained state and
    // resurrect the flake class this helper exists to close — fail loud
    require(stable >= 3,
      s"quiesce: batchId still advancing after ${timeoutMs}ms (last=$last)")
  }
}
