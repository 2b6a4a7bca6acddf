package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkEntry
import graft.ner.RuleNer
import graft.pipeline.EntityPipeline
import graft.streaming.StreamJob

/** One benchmark run in a fresh JVM, driven by `perfbench/run.py`:
  *
  *   Harness --workload <name> --run-dir <dir> --trace <0|1>
  *           --launched-ns <epoch ns> --cpus <n>
  *           [--warmup <k>]                      (streams)
  *           [--passes <k> --queries <q:module,...>]   (batch_mix)
  *
  * It writes `<run-dir>/harness.json` (timings, per-layer counters, and
  * what the checks need) and leaves checking to run.py.
  */
object Harness {
  final case class Opts(workload: String, runDir: String, trace: Boolean,
                        launchedNs: Long, cpus: Int, warmup: Int, passes: Int,
                        queries: Seq[(String, String)])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val opts = Opts(kv("workload"), kv("run-dir"), kv("trace") == "1",
      kv("launched-ns").toLong, kv("cpus").toInt, kv.getOrElse("warmup", "0").toInt,
      kv.getOrElse("passes", "0").toInt,
      kv.get("queries").toSeq.flatMap(_.split(",")).map { q =>
        val Array(n, m) = q.split(":"); n -> m })
    val spark = SparkSession.builder()
      .master(s"local[${opts.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", opts.cpus.toString)
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (opts.trace) Some(new Tracer(spark)) else None
    val out =
      try {
        if (opts.workload == "batch_mix") BatchRun(spark, opts, tracer)
        else StreamRun(spark, opts, tracer)
      } finally spark.stop()
    Files.writeString(Paths.get(opts.runDir, "harness.json"), Json(out))
  }

  def secondsSince(launchedNs: Long, epochMs: Double): Double =
    (epochMs * 1e6 - launchedNs) / 1e9

  def nowEpochMs: Double = {
    val i = Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach(_ => System.gc())
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum else f.length

  /** Execution counters for the traced run, averaged the same way for
    * every workload: `per` holds one tracer bucket per sample (a
    * trigger, a pass) and each counter reports its median over them.
    */
  def execMetrics(tracer: Option[Tracer], per: Seq[String]): Map[String, Any] = tracer match {
    case None => Map.empty
    case Some(t) =>
      val xs = per.map(t.exec)
      def med(f: t.Exec => Double) = median(xs.map(f))
      val wall = xs.map(_.stageWallMs).sum
      Map(
        "exec.jobs" -> med(_.jobs.toDouble),
        "exec.tasks" -> med(_.tasks.toDouble),
        "exec.stages" -> med(_.stages.toDouble),
        "exec.task_cpu_ms" -> med(_.cpuNs / 1e6),
        "exec.gc_ms" -> med(_.gcMs.toDouble),
        "exec.shuffle_write_bytes" -> med(_.shuffleWrite.toDouble),
        "exec.spill_bytes" -> med(_.spill.toDouble),
        "exec.max_task_share" -> (if (wall == 0) 0.0 else xs.map(_.maxTaskMs).sum.toDouble / wall))
  }
}

/** `stream_*` workloads: StreamJob's parse → NER → explode → complete-mode
  * count over the file source, one page per trigger, `AvailableNow`, with
  * a sink that collects every row of every trigger. The run consumes
  * exactly the pages written, so every run executes the same triggers:
  * the first `warmup` untimed, the rest timed. The query ends on its own.
  */
object StreamRun {
  import Harness._

  def apply(spark: SparkSession, o: Opts, tracer: Option[Tracer]): Map[String, Any] = {
    val pagesDir = s"${o.runDir}/pages"
    val ckpt = s"${o.runDir}/checkpoint"
    val progress = new ConcurrentHashMap[Long, StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.put(e.progress.batchId, e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    val sinkRows = new ConcurrentHashMap[Long, Int]()
    val lastRows = new AtomicReference[Array[Row]](Array.empty)
    val sink: (DataFrame, Long) => Unit = (df, id) => {
      val rows = df.collect()
      lastRows.set(rows)
      sinkRows.put(id, rows.length)
    }

    val raw = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .option("maxFilesPerTrigger", "1")
      .text(pagesDir)
    val query = StreamJob.entityCounts(raw).writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()
    query.awaitTermination()
    val heapMb = retainedHeapMb()
    val last = sinkRows.keySet.asScala.max
    val deadline = System.nanoTime() + 30e9.toLong
    while ((0L to last).exists(b => !progress.containsKey(b)) && System.nanoTime() < deadline)
      Thread.sleep(10)
    require(last >= o.warmup, s"only ${last + 1} triggers ran; need more than ${o.warmup}")
    val all = (0L to last).map(progress.get)
    require(all.forall(_ != null), "missing progress events")
    val timed = all.drop(o.warmup)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def startMs(p: StreamingQueryProgress): Double = Instant.parse(p.timestamp).toEpochMilli.toDouble
    val wallS = (startMs(timed.last) + dur(timed.last, "triggerExecution") - startMs(timed.head)) / 1e3
    val articles = timed.map(_.numInputRows).sum
    val triggerMs = timed.map(dur(_, "triggerExecution"))
    val finalRows = lastRows.get
    val countsFile = Paths.get(o.runDir, "counts.tsv")
    Files.write(countsFile, finalRows.iterator.map(r => s"${r.getString(0)}\t${r.getLong(1)}")
      .toSeq.asJava)

    val endToEnd = Map[String, Any](
      "setup_s" -> secondsSince(o.launchedNs, startMs(timed.head)),
      "warm_op_ms" -> median(triggerMs),
      "items_per_s" -> articles / wallS)
    val check = Map[String, Any](
      "last_batch" -> last,
      "num_input_rows" -> all.map(_.numInputRows),
      "counts_file" -> countsFile.toString,
      "trigger_ms" -> triggerMs,
      "timed_wall_s" -> wallS)
    val layers = tracer.fold(Map.empty[String, Any]) { t =>
      t.drain()
      def st(p: StreamingQueryProgress) = p.stateOperators.head
      def medOf(f: StreamingQueryProgress => Double) = median(timed.map(f))
      val stages = stagesOfPipeline(spark, pagesDir, math.min(last.toInt + 1, StagePages))
      Map[String, Any](
        "source.latest_offset_ms" -> medOf(dur(_, "latestOffset")),
        "source.get_batch_ms" -> medOf(dur(_, "getBatch")),
        "streaming.query_planning_ms" -> medOf(dur(_, "queryPlanning")),
        "streaming.wal_commit_ms" -> medOf(dur(_, "walCommit")),
        "streaming.commit_offsets_ms" -> medOf(dur(_, "commitOffsets")),
        "streaming.add_batch_ms" -> medOf(dur(_, "addBatch")),
        "streaming.trigger_ms_p90" -> percentile(triggerMs, 0.9),
        "cold.first_op_s" -> dur(all.head, "triggerExecution") / 1e3,
        "memory.retained_heap_mb" -> heapMb,
        "streaming.state.commit_ms" -> medOf(st(_).commitTimeMs.toDouble),
        "streaming.state.update_ms" -> medOf(st(_).allUpdatesTimeMs.toDouble),
        "streaming.state.rows_total" -> st(all.last).numRowsTotal,
        "streaming.state.bytes" -> st(all.last).memoryUsedBytes,
        "streaming.sink_rows" -> median(timed.map(p => sinkRows.get(p.batchId).toDouble)),
        "streaming.checkpoint_bytes" -> dirBytes(new File(ckpt)),
        "ner.entity_tokens" -> finalRows.map(_.getLong(1)).sum) ++
        stages ++ execMetrics(tracer, timed.map(_.batchId.toString))
    }
    Map("end_to_end" -> endToEnd, "per_layer" -> layers, "check" -> check,
      "attempted" -> timed.size, "failed" -> 0)
  }

  /** Pages read by the timed batch calls of the pipeline's stages, so
    * their figures do not depend on how many triggers a run times. */
  val StagePages = 15

  /** Timed batch calls of the pipeline's stages over the first pages the
    * stream consumed: parse, NER + explode, and the whole count. The
    * last two read the parsed text from a cache, so parse is not in them.
    */
  private def stagesOfPipeline(spark: SparkSession, pagesDir: String, pages: Int): Map[String, Any] = {
    val files = (0 until pages).map(i => f"$pagesDir/page-$i%05d.json")
    val raw = spark.read.schema(StructType(Seq(StructField("value", StringType)))).text(files: _*)
    val parsed = EntityPipeline.parseArticles(raw).select(col("text")).persist()
    parsed.count()
    def med3(body: => Unit) = median((1 to 3).map(_ => timeMs(body)))
    val out = Map[String, Any](
      "pipeline.parse_ms" -> med3(noop(EntityPipeline.parseArticles(raw))),
      "ner.extract_ms" -> med3(noop(parsed.select(explode(RuleNer.entitiesCol(col("text")))))),
      "pipeline.count_ms" -> med3(noop(EntityPipeline.countEntities(parsed))))
    parsed.unpersist()
    out
  }
}

/** `batch_mix`: a fixed list of registered queries at sf0.01. The first
  * pass in the fresh session and one untimed warm-up pass write every
  * result as parquet for the DuckDB check, so both the cold path and the
  * warm path (session sidecars already built) are checked; both passes
  * are set-up. Then `passes` timed warm passes, each query timed from its
  * query function through a `noop` write, as graft.Bench times it.
  */
object BatchRun {
  import Harness._

  def apply(spark: SparkSession, o: Opts, tracer: Option[Tracer]): Map[String, Any] = {
    val dataDir = s"${o.runDir}/tables"
    val resultsDir = s"${o.runDir}/results"
    val warmResultsDir = s"${o.runDir}/results-warmup"
    val names = o.queries.map(_._1)
    val queries = SparkEntry.queries
    val construct = new ConcurrentHashMap[String, (Double, Long)]()

    /** Seconds from the query function's call to the end of `write`. */
    def runOnce(name: String, bucket: String, write: DataFrame => Unit): Option[Double] = {
      val jobs0 = tracer.map { t => t.enter(bucket + "/construct"); t.exec(bucket + "/construct").jobs }
      try {
        val t0 = System.nanoTime()
        val df = queries(name)(spark, dataDir)
        val t1 = System.nanoTime()
        tracer.foreach { t =>
          t.enter(bucket)
          val (ms, jobs) = construct.getOrDefault(bucket, (0.0, 0L))
          construct.put(bucket, (ms + (t1 - t0) / 1e6, jobs + t.exec(bucket + "/construct").jobs - jobs0.get))
        }
        val t2 = System.nanoTime()
        write(df)
        Some((t1 - t0 + System.nanoTime() - t2) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    }

    def parquet(dir: String, n: String)(df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
    val codegen0 = tracer.map(_.codegen)
    val first = names.map(n => n -> runOnce(n, "pass0", parquet(resultsDir, n)))
    tracer.foreach(_.drain())
    val firstPlanning = tracer.map(_.planningMs).getOrElse(Map.empty)
    val codegen1 = tracer.map(_.codegen)
    names.foreach(n => runOnce(n, "warmup", parquet(warmResultsDir, n)))
    val setupS = secondsSince(o.launchedNs, nowEpochMs)
    val warm = (1 to o.passes).map(i => names.map(n => n -> runOnce(n, s"pass$i", noop)))
    tracer.foreach(_.drain())
    val heapMb = retainedHeapMb()

    def warmOf(n: String) = warm.flatMap(_.collectFirst { case (`n`, Some(s)) => s })
    val firstTimes = first.flatMap(_._2)
    val endToEnd = Map[String, Any](
      "setup_s" -> setupS,
      "warm_op_ms" -> names.map(n => median(warmOf(n))).sum * 1e3,
      "items_per_s" -> firstTimes.size / firstTimes.sum)

    val layers = tracer.fold(Map.empty[String, Any]) { t =>
      val passes = warm.indices.map(i => s"pass${i + 1}")
      val modules = o.queries.groupBy(_._2).map { case (m, qs) =>
        s"ops.$m.pass_s" -> qs.map(q => median(warmOf(q._1))).sum }
      val (c0, n0) = codegen0.get
      val (c1, n1) = codegen1.get
      def constructOf(p: String) = construct.getOrDefault(p, (0.0, 0L))
      modules ++ execMetrics(tracer, passes) ++ Map[String, Any](
        "cold.first_op_s" -> firstTimes.sum,
        "memory.retained_heap_mb" -> heapMb,
        "tables.construct_ms" -> median(passes.map(constructOf(_)._1)),
        "tables.construct_jobs" -> median(passes.map(constructOf(_)._2.toDouble)),
        "catalyst.analysis_ms" -> firstPlanning.getOrElse("analysis", 0L),
        "catalyst.optimize_ms" -> firstPlanning.getOrElse("optimization", 0L),
        "catalyst.plan_ms" -> firstPlanning.getOrElse("planning", 0L),
        "codegen.compile_ms" -> (c1 - c0) / 1e6,
        "codegen.classes" -> (n1 - n0))
    }

    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(o.runDir, "oracle_sql.json"),
      Json(names.flatMap(n => oracles.get(n).map(n -> _)).toMap))
    Map("end_to_end" -> endToEnd, "per_layer" -> layers,
      "check" -> Map("results_dirs" -> Seq(resultsDir, warmResultsDir)),
      "queries" -> names.map(n => n -> Map(
        "first_s" -> first.toMap.apply(n).getOrElse(-1.0), "warm_s" -> warmOf(n))).toMap,
      "attempted" -> names.size * o.passes, "failed" -> warm.map(_.count(_._2.isEmpty)).sum)
  }
}

/** Minimal JSON writer for the harness's flat maps and lists. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case x => str(x.toString)
  }
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
