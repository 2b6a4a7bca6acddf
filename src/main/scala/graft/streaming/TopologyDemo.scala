package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's WHOLE two-process topology, offline: the producer
  * loop (news_producer.py) and the entity counter
  * (spark_entity_counter.py) wired through a directory standing in for
  * the Kafka topic.
  *
  *   article-JSON pages → IngestSim (rate-capped, LRU-analog dedup,
  *   payload projection) → "topic" dir → StreamJob.entityCounts
  *   (parse → NER → running counts, complete mode)
  *
  *   sbt "runMain graft.streaming.TopologyDemo"
  *
  * With the Kafka connector on the classpath the same two jobs run
  * against real topics (StreamMain / IngestSim.run with
  * sinkFormat="kafka"); nothing in the transforms changes — which is
  * the point of factoring source/sink wiring away from the logic.
  */
object TopologyDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(4)
      .appName("graft-topology-demo")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val pagesDir = Files.createTempDirectory("graft_topo_pages").toString
    val topicDir = Files.createTempDirectory("graft_topo_topic").toString
    val ckptP = Files.createTempDirectory("graft_topo_ckpt_p").toString
    val ckptC = Files.createTempDirectory("graft_topo_ckpt_c").toString

    def article(url: String, title: String): String =
      s"""{"source":"x","author":"a","title":"$title","description":"d",""" +
        s""""url":"$url","publishedAt":"2024-01-01T00:00:00Z","content":"c"}"""

    Files.write(java.nio.file.Paths.get(s"$pagesDir/p1.json"), Seq(
      article("http://a", "Spark streams the table"),
      article("http://b", "Alice joins spark")).mkString("\n").getBytes)
    Files.write(java.nio.file.Paths.get(s"$pagesDir/p2.json"), Seq(
      article("http://a", "Spark streams the table"), // dup: dropped at ingest
      article("http://c", "spark spark everywhere")).mkString("\n").getBytes)

    // process 1: producer analog, "topic" = text files of payload JSON
    val producer = IngestSim.run(spark, pagesDir, ckptP, query = "demo",
      maxFilesPerTrigger = 1, sinkFormat = "text",
      sinkOptions = Map("path" -> topicDir), trigger = Trigger.AvailableNow())
    producer.awaitTermination()

    // process 2: the reference's consumer over the same "topic"
    val raw = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(topicDir)
    val consumer = StreamJob.entityCounts(raw).writeStream
      .format("memory").queryName("topo_counts")
      .option("checkpointLocation", ckptC)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    consumer.awaitTermination()

    println("--- entity counts through the full topology ---")
    spark.table("topo_counts").orderBy($"count".desc, $"entity").show(false)
    spark.stop()
  }
}
