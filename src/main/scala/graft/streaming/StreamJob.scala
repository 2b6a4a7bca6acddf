package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.pipeline.EntityPipeline

/** The reference's streaming job in Scala Structured Streaming
  * (spark_entity_counter.py:117-156):
  *
  *   Kafka topic1 → cast/parse/concat → NER → explode →
  *   groupBy(entity).count() [complete mode, unbounded state] →
  *   to_json(struct(entity, count, timestamp)) → Kafka topic2,
  *   processing-time trigger (default 30 s), checkpointed.
  *
  * The Python/Arrow worker boundary of the reference (its costliest
  * stage, SURVEY.md §3.1) does not exist here — the NER expression is
  * JVM-native and stays in the executor.
  *
  * One departure from the reference's plan, in [[entityCounts]] only:
  * when a file-source stream's triggers are large, the raw rows are
  * spread round-robin over the session's cores ([[spread]]) before
  * parsing. A trigger's input is otherwise one task per file split
  * (Spark floors a split at `openCostInBytes`, 4 MB), and parse, NER,
  * explode and the partial count all run in it. The counts do not
  * change, and neither does the state layout: the stateful exchange
  * still hashes `entity` into the checkpoint's shuffle-partition count,
  * so a checkpoint restores with or without the spread. [[transform]]
  * and [[run]], the Kafka parity job, keep the reference's plan.
  *
  * The transform is factored so tests drive it from `MemoryStream`
  * (the Kafka connector's behavior is Spark's, not ours — SURVEY.md
  * §7.2): [[transform]] takes any DataFrame bearing a Kafka-shaped
  * `value` column and returns the sink-ready frame.
  */
object StreamJob {

  /** CLI surface of the reference (readme.md:88-96 / .env.example).
    * `trigger` is the interval string exactly as the reference takes it
    * (spark_entity_counter.py:95, e.g. "30 seconds"); the checkpoint
    * dir defaults to the reference's hardcoded path
    * (spark_entity_counter.py:153) but is overridable.
    */
  final case class Config(
      bootstrapServers: String = "localhost:9092",
      inputTopic: String = "topic1",
      outputTopic: String = "topic2",
      checkpointDir: String = "/tmp/spark_entity_counter_checkpoint",
      trigger: String = "30 seconds")

  /** Kafka-value stream → entity-count stream serialized for the sink.
    * `current_timestamp` stamps rows per-trigger exactly like the
    * reference (spark_entity_counter.py:142) — hence excluded from
    * oracle-checked outputs (SURVEY.md §7.4).
    */
  def transform(raw: DataFrame): DataFrame =
    EntityPipeline.countEntities(EntityPipeline.parseArticles(raw))
      .select(to_json(struct(
        col("entity"),
        col("count"),
        current_timestamp().as("timestamp"))).as("value"))

  /** Entity-count stream without the sink serialization — the form the
    * MemoryStream tests assert on (complete-mode running counts). Large
    * file-source triggers are spread over every core first ([[spread]]).
    */
  def entityCounts(raw: DataFrame): DataFrame =
    EntityPipeline.countEntities(EntityPipeline.parseArticles(spread(raw)))

  /** Trigger size from which [[spread]] pays for itself. The round-robin
    * exchange adds a stage, a task per core and a shuffle of the raw
    * values to every trigger. On a 4-vCPU host it made triggers of
    * 170 KB about 5% slower, left 0.5 MB even, and made 1 MB about 7%
    * and 2.5 MB about 14% faster.
    */
  private[graft] val SpreadBytes: Long = 1L << 19

  /** Round-robin exchange of the raw rows into one partition per core,
    * so a trigger's per-row work runs in `defaultParallelism` tasks,
    * when [[triggerBytes]] is at least [[SpreadBytes]]; otherwise, and on
    * one core, `raw` unchanged. The choice is made once, when the query
    * is built: a stateful query's plan is fixed across its triggers
    * (Structured Streaming runs it without adaptive execution).
    */
  private def spread(raw: DataFrame): DataFrame = {
    val n = raw.sparkSession.sparkContext.defaultParallelism
    if (n > 1 && triggerBytes(raw).exists(_ >= SpreadBytes)) raw.repartition(n) else raw
  }

  /** Bytes one trigger of a file-source stream reads, estimated from the
    * files at its path when the query is built: their mean size times
    * `maxFilesPerTrigger`, or their total when that is unset (the first
    * trigger takes them all). None for other sources, such as Kafka or
    * memory, and for a path that holds no file yet.
    */
  private[graft] def triggerBytes(raw: DataFrame): Option[Long] = {
    val conf = raw.sparkSession.sparkContext.hadoopConfiguration
    val estimates = raw.queryExecution.analyzed.collect {
      case r: StreamingRelation if classOf[FileFormat].isAssignableFrom(r.dataSource.providingClass) =>
        val opts = CaseInsensitiveMap(r.dataSource.options)
        val sizes = (r.dataSource.paths ++ opts.get("path")).flatMap { p =>
          val path = new Path(p)
          val fs = path.getFileSystem(conf)
          def files(st: FileStatus): Seq[Long] =
            if (Seq("_", ".").exists(st.getPath.getName.startsWith)) Nil
            else if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files)
            else Seq(st.getLen)
          Option(fs.globStatus(path)).toSeq.flatten.flatMap { st =>
            if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files) else files(st)
          }
        }
        val perTrigger = opts.get("maxFilesPerTrigger").flatMap(_.toIntOption)
          .fold(sizes.size)(math.min(_, sizes.size))
        if (sizes.isEmpty) None else Some(sizes.sum / sizes.size * perTrigger)
    }
    estimates.flatten.maxOption
  }

  /** Full parity job against Kafka — source options identical to
    * spark_entity_counter.py:117-124, sink to :147-156. Requires the
    * spark-sql-kafka connector on the classpath (not present in the
    * offline test image; covered there by the MemoryStream suite).
    */
  def run(spark: SparkSession, cfg: Config): StreamingQuery = {
    val raw = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("subscribe", cfg.inputTopic)
      .option("startingOffsets", "latest")
      .load()
    transform(raw).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("topic", cfg.outputTopic)
      .option("checkpointLocation", cfg.checkpointDir)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.ProcessingTime(cfg.trigger))
      .start()
  }

  /** Extension beyond parity (ST3/ST4): watermarked tumbling-window
    * counts — the bounded-state form of the reference's unbounded
    * aggregate, for event-time streams. Works over any frame with
    * (ts: timestamp, key: string).
    */
  def windowedCounts(events: DataFrame, watermark: String, windowLen: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("key"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("key"), col("n"))

  /** Extension (ST7): the honest in-engine analog of the producer's
    * bounded LRU dedup — watermark-bounded state instead of an
    * unbounded distinct set.
    */
  def dedupWithinWatermark(articles: DataFrame, watermark: String): DataFrame =
    articles.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("url")
}
