package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.EntityPipeline
import graft.streaming.StreamJob

/** Batch semantics of the reference pipeline (P1-P7, U1-U2, A1) and the
  * streaming parity behaviors (ST1-ST7) via MemoryStream.
  */
class EntityPipelineSpec extends AnyFunSuite {

  private def article(title: String, description: String = null, content: String = null): String = {
    def q(s: String) = if (s == null) "null" else "\"" + s + "\""
    s"""{"source":null,"author":null,"title":${q(title)},"description":${q(description)},
        "url":"http://x","publishedAt":"2024-01-01T00:00:00Z","content":${q(content)},
        "fetchedAt":"2024-01-01T00:00:00Z","query":"q"}""".replaceAll("\n\\s*", "")
  }

  test("parse: malformed JSON gives null struct, concat_ws null-skip gives empty text") {
    val spark = TestSpark.spark
    import spark.implicits._
    val raw = Seq("not json at all", article("Spark wins", null, null)).toDF("value")
    val parsed = EntityPipeline.parseArticles(raw).collect()
    assert(parsed.length == 2)
    val texts = parsed.map(_.getString(1)).toSeq
    assert(texts.contains(""))          // malformed row: all fields null → ""
    assert(texts.contains("Spark wins"))
  }

  test("explode drops articles with no entities (not explode_outer)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val raw = Seq(article("nothing lowercase here"), article("Spark rises")).toDF("value")
    val counts = EntityPipeline.countEntities(EntityPipeline.parseArticles(raw)).collect()
    // only the second article contributes; no null/empty entity rows
    assert(counts.map(_.getString(0)).toSet == Set("Spark"))
  }

  test("batch counts: duplicates within one article count separately (A1)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val raw = Seq(article("spark spark Window")).toDF("value")
    val counts = EntityPipeline.countEntities(EntityPipeline.parseArticles(raw))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("spark" -> 2L, "Window" -> 1L))
  }

  test("streaming complete mode: counts are running totals across triggers (A1/ST2)") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[String]
    val raw = input.toDF().select($"value".cast("binary").as("value"))
    val q = StreamJob.entityCounts(raw).writeStream
      .format("memory").queryName("ec_complete").outputMode("complete").start()
    try {
      input.addData(article("spark rises"), article("Spark falls"))
      q.processAllAvailable()
      val t1 = spark.table("ec_complete").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(t1 == Map("spark" -> 1L, "Spark" -> 1L))

      input.addData(article("spark again"))
      q.processAllAvailable()
      val t2 = spark.table("ec_complete").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(t2 == Map("spark" -> 2L, "Spark" -> 1L)) // running total, state kept
    } finally q.stop()
  }

  test("sink serialization carries entity, count and timestamp (P7)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val raw = Seq(article("Spark")).toDF("value")
    val out = StreamJob.transform(raw).collect()
    assert(out.length == 1)
    val json = out.head.getString(0)
    assert(json.contains("\"entity\":\"Spark\"") && json.contains("\"count\":1")
      && json.contains("timestamp"))
  }

  /** A fresh directory holding one JSON-lines page per entry of `pages`,
    * each padded with entity-free articles to at least `minBytes`. */
  private def pageDir(pages: Seq[Seq[String]], minBytes: Long): String = {
    val dir = Files.createTempDirectory("graft_pages").toString
    pages.zipWithIndex.foreach { case (p, i) => addPage(dir, s"p$i.json", p, minBytes) }
    dir
  }

  private def addPage(dir: String, name: String, articles: Seq[String], minBytes: Long): Unit = {
    val filler = article("filler " * 150)
    val pad = Seq.fill((minBytes / filler.length).toInt + (if (minBytes > 0) 1 else 0))(filler)
    Files.write(Paths.get(dir, name), (articles ++ pad).mkString("\n").getBytes("UTF-8"))
  }

  /** A file-source stream of the pages in `dir`, one page per trigger. */
  private def filePages(dir: String): DataFrame = TestSpark.spark.readStream
    .schema(StructType(Seq(StructField("value", StringType))))
    .option("maxFilesPerTrigger", "1")
    .text(dir)

  private def lastPlan(q: StreamingQuery): SparkPlan =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan

  private def roundRobins(p: SparkPlan): Seq[SparkPlan] = p.collect {
    case e: ShuffleExchangeExec
        if e.outputPartitioning == RoundRobinPartitioning(TestSpark.spark.sparkContext.defaultParallelism) => e
  }

  test("checkpoint restart recovers aggregate state (ST5)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val unspread = (raw: DataFrame) => EntityPipeline.countEntities(EntityPipeline.parseArticles(raw))
    // (first run's plan, page padding, round-robin exchanges in the restarted run):
    // small pages stay unspread; a checkpoint written without the spread
    // restores under a spread plan, as the stateful layout is the same
    Seq[(String, DataFrame => DataFrame, Long, Int)](
      ("ec_ckpt", StreamJob.entityCounts, 0L, 0),
      ("ec_unspread", unspread, StreamJob.SpreadBytes, 1)
    ).foreach { case (name, firstPlan, minBytes, exchanges) =>
      val ckpt = Files.createTempDirectory("graft_ckpt").toString
      val dir = pageDir(Seq(Seq(article("spark one"), article("Spark Alice"))), minBytes)
      def start(counts: DataFrame, n: Int) = counts.writeStream
        .format("memory").queryName(s"$name$n").outputMode("complete")
        .option("checkpointLocation", ckpt).start()

      val q1 = start(firstPlan(filePages(dir)), 1)
      q1.processAllAvailable()
      q1.stop()

      addPage(dir, "p1.json", Seq(article("spark two"), article("Alice again")), minBytes)
      val q2 = start(StreamJob.entityCounts(filePages(dir)), 2)
      try {
        q2.processAllAvailable()
        assert(roundRobins(lastPlan(q2)).size == exchanges, name)
        val t = spark.table(s"${name}2").as[(String, Long)].collect().toMap
        // pre-restart state restored from checkpoint
        assert(t == Map("spark" -> 2L, "Spark" -> 1L, "Alice" -> 2L), name)
      } finally q2.stop()
    }
  }

  test("a file-source trigger of at least SpreadBytes is spread round-robin over every core before parsing") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    assert(spark.sparkContext.defaultParallelism == 4) // TestSpark runs local[4]
    val batches = Seq(
      (1 to 40).map(i => article(s"Spark $i rises", s"alice meets Bob${('a' + i % 26).toChar}", null)),
      (1 to 25).map(i => article("spark falls", null, s"Kafka and Carol${('a' + i % 7).toChar}")) :+ "not json")
    val memory = MemoryStream[String]
    batches.foreach(b => memory.addData(b))
    // (source, round-robin exchanges): large pages spread; the same
    // articles in small pages or in a memory stream do not
    Seq[(String, DataFrame, Int)](
      ("ec_large", filePages(pageDir(batches, StreamJob.SpreadBytes)), 1),
      ("ec_small", filePages(pageDir(batches, 0L)), 0),
      ("ec_memory", memory.toDF(), 0)
    ).foreach { case (name, raw, exchanges) =>
      val q = StreamJob.entityCounts(raw).writeStream
        .format("memory").queryName(name).outputMode("complete").start()
      try {
        q.processAllAvailable()
        val plan = lastPlan(q)
        assert(roundRobins(plan).size == exchanges, s"$name\n$plan")
        val parses = plan.collect {
          case p: ProjectExec if p.projectList.exists(_.exists(_.isInstanceOf[JsonToStructs])) => p
        }
        assert(parses.size == 1, plan)
        assert(roundRobins(parses.head.child).size == exchanges, plan) // below the parse

        val streamed = spark.table(name).as[(String, Long)].collect().toMap
        val batch = EntityPipeline.countEntities(EntityPipeline.parseArticles(
          batches.flatten.toDF("value"))).as[(String, Long)].collect().toMap
        assert(streamed.nonEmpty && streamed == batch, name)
      } finally q.stop()
    }
  }

  test("triggerBytes: mean file size times maxFilesPerTrigger, or the total; None without files") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft_sizes").toString
    Seq("a.json" -> 100, "b.json" -> 300, "_SUCCESS" -> 5000, ".a.json.crc" -> 5000)
      .foreach { case (f, n) => Files.write(Paths.get(dir, f), Array.fill(n)('x'.toByte)) }
    def text = spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
    assert(StreamJob.triggerBytes(text.option("maxFilesPerTrigger", "1").text(dir)) == Some(200L))
    assert(StreamJob.triggerBytes(text.option("maxFilesPerTrigger", "5").text(dir)) == Some(400L))
    assert(StreamJob.triggerBytes(text.text(dir)) == Some(400L))
    assert(StreamJob.triggerBytes(text.text(Files.createTempDirectory("graft_empty").toString)) == None)
    assert(StreamJob.triggerBytes(MemoryStream[String].toDF()) == None)
  }

  test("dropDuplicatesWithinWatermark dedups by url within the watermark (ST7)") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val articles = input.toDF().toDF("url", "ts")
    val q = StreamJob.dedupWithinWatermark(articles, "10 minutes").writeStream
      .format("memory").queryName("dedup_wm").outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
      input.addData(("http://a", t0), ("http://a", t1), ("http://b", t0))
      q.processAllAvailable()
      val urls = spark.table("dedup_wm").collect().map(_.getString(0)).toSeq.sorted
      assert(urls == Seq("http://a", "http://b"))
    } finally q.stop()
  }

  test("watermarked tumbling windows emit closed windows in append mode (ST3/ST4)") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val events = input.toDF().toDF("ts", "key")
    val q = StreamJob.windowedCounts(events, "10 minutes", "5 minutes").writeStream
      .format("memory").queryName("win_append").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((ts("2024-01-01 00:00:10"), "a"), (ts("2024-01-01 00:01:00"), "a"))
      q.processAllAvailable()
      // advance the watermark far past the first window's end
      input.addData((ts("2024-01-01 01:00:00"), "b"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 02:00:00"), "b"))
      q.processAllAvailable()
      val rows = spark.table("win_append").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(rows.contains(("2024-01-01 00:00:00.0", "a", 2L)))
    } finally q.stop()
  }
}
