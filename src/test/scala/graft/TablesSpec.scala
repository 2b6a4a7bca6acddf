package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The read layer's schema memo: a warm read launches no inference
  * job, and nothing it skips can change what a read returns — a
  * rewritten file, a changed parquet conf, a missing path.
  */
class TablesSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  /** Spark jobs launched while `body` runs, counted with the listener
    * bus drained on both sides.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      GraftBridge.drainListenerBus(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def tmpDir(tag: String) = Files.createTempDirectory(s"graft-tables-$tag").toString

  /** A cold copy of one sf0.001 table: a path no earlier read memoized. */
  private def copyTable(name: String): String = {
    val d = tmpDir(name)
    Files.copy(Paths.get(s"${TestSpark.sfDir}/$name.parquet"),
      Paths.get(s"$d/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    d
  }

  /** An events table whose `ts` is parquet TIMESTAMP(NANOS), the one
    * layout `spark.sql.legacy.parquet.nanosAsLong` changes. Spark
    * writes no such files, so this goes through parquet-mr directly.
    */
  private def nanosEvents(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val d = tmpDir("events-nanos")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id; optional binary event_type (STRING);
        |  optional double value; optional binary props (STRING); }""".stripMargin)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$d/events.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try Seq((1L, 1704067200000001000L, "view"), (2L, 1704153599999999000L, "click"))
      .foreach { case (id, ns, et) =>
        w.write(g.newGroup().append("event_id", id).append("ts", ns).append("user_id", 7L)
          .append("event_type", et).append("value", 1.5).append("props", "{}"))
      }
    finally w.close()
    d
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a warm read of an unchanged file launches no job; the cold one launches its one") {
    val s = spark
    import s.implicits._
    val d = tmpDir("jobs")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$d/kv.parquet")
    val (inf0, reu0) = Tables.schemaCounts
    val (cold, coldJobs) = jobsDuring(Tables.t(s, d, "kv"))
    val (warm, warmJobs) = jobsDuring(Tables.t(s, d, "kv"))
    assert(coldJobs == 1, "the first read infers the schema with one job")
    assert(warmJobs == 0, "a second read of the same files must reuse the schema")
    assert(warm.schema == cold.schema)
    assert(sortedRows(warm) == sortedRows(cold))
    val (inf1, reu1) = Tables.schemaCounts
    assert(inf1 - inf0 == 1 && reu1 - reu0 == 1)
  }

  test("a file rewritten at the same path with a different schema is inferred again") {
    val s = spark
    import s.implicits._
    val d = tmpDir("rewrite")
    Seq(1L, 2L).toDF("a").write.parquet(s"$d/t.parquet")
    assert(Tables.t(s, d, "t").schema.fieldNames.toSeq == Seq("a"))
    Seq(("x", 7)).toDF("b", "c").write.mode("overwrite").parquet(s"$d/t.parquet")
    val (df, jobs) = jobsDuring(Tables.t(s, d, "t"))
    assert(jobs == 1)
    assert(df.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(df.collect().toSeq == Seq(Row("x", 7)))
  }

  test("changing spark.sql.legacy.parquet.nanosAsLong triggers a fresh inference") {
    val s = spark
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = s.conf.getOption(key)
    val d = nanosEvents()
    try {
      s.conf.set(key, "true")
      val (asLong, j1) = jobsDuring(Tables.t(s, d, "events"))
      assert(j1 == 1 && asLong.schema("ts").dataType == LongType)
      assert(jobsDuring(Tables.t(s, d, "events"))._2 == 0)
      s.conf.set(key, "false")
      // Under the other value TIMESTAMP(NANOS) either infers to
      // another type or fails; a memo that ignored the conf would
      // answer BIGINT with no job.
      val (other, j2) = jobsDuring(scala.util.Try(Tables.t(s, d, "events").schema("ts").dataType))
      assert(j2 == 1)
      assert(other.toOption != Some(LongType))
      s.conf.set(key, "true")
      val (back, j3) = jobsDuring(Tables.t(s, d, "events"))
      assert(j3 == 0 && back.schema("ts").dataType == LongType)
    } finally before match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  test("events reads the same rows cold and warm: sf0.001, written micros, nanos") {
    val s = spark
    import s.implicits._
    val sf = copyTable("events")
    val micros = tmpDir("events-micros")
    def ts(x: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $x")
    Seq(
      (1L, ts("00:00:00"), 7L, "view", 1.5, "{}"),
      (2L, ts("00:00:00.000001"), 7L, "click", 0.0, """{"k": 1}"""),
      (3L, ts("23:59:59.999999"), 9L, "purchase", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$micros/events.parquet")
    val nanos = nanosEvents()
    for (d <- Seq(sf, micros, nanos)) {
      val (cold, coldJobs) = jobsDuring(Tables.events(s, d))
      val (warm, warmJobs) = jobsDuring(Tables.events(s, d))
      assert(coldJobs == 1 && warmJobs == 0, d)
      assert(warm.schema == cold.schema, d)
      val rows = sortedRows(cold)
      assert(rows.nonEmpty && sortedRows(warm) == rows, d)
    }
    // the nanos table's ts comes back as µs timestamps
    assert(Tables.events(s, nanos).orderBy("event_id").collect()
      .map(r => TestSpark.rowTs(r, 1).toString).toSeq ==
      Seq("2024-01-01 00:00:00.000001", "2024-01-01 23:59:59.999999"))
    // the copy reads exactly as the shared sf0.001 table does
    assert(sortedRows(Tables.events(s, sf)) == sortedRows(Tables.events(s, TestSpark.sfDir)))
  }

  test("a missing path fails with the plain read's error, again on the next call") {
    val s = spark
    val d = tmpDir("missing")
    val path = s"$d/nope.parquet"
    def err(read: => DataFrame): (Class[_], String) = {
      val e = intercept[Exception](read)
      (e.getClass, e.getMessage)
    }
    val plain = err(s.read.parquet(path))
    assert(err(Tables.t(s, d, "nope")) == plain)
    assert(err(Tables.t(s, d, "nope")) == plain)
    // an existing directory without data files also fails as before
    Files.createDirectory(Paths.get(s"$d/empty.parquet"))
    val plainEmpty = err(s.read.parquet(s"$d/empty.parquet"))
    assert(err(Tables.t(s, d, "empty")) == plainEmpty)
    assert(err(Tables.t(s, d, "empty")) == plainEmpty)
  }
}
