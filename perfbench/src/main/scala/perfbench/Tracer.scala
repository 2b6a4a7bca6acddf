package perfbench

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters from Spark's public listeners, installed only in
  * the traced run. Execution counters are kept per "bucket": a stream
  * batch id (from the job's `streaming.sql.batchId` property) or the
  * bucket set with [[enter]] for batch work.
  */
final class Tracer(spark: SparkSession) {
  final class Exec {
    var jobs, stages, tasks = 0L
    var cpuNs, gcMs, shuffleWrite, spill = 0L
    var maxTaskMs, stageWallMs = 0L
  }

  private val lock = new Object
  private val buckets = mutable.Map.empty[String, Exec]
  private val stageBucket = mutable.Map.empty[Int, String]
  private val stageMaxTask = mutable.Map.empty[Int, Long]
  @volatile private var current = "setup"
  private var planning = Map.empty[String, Long]

  def enter(bucket: String): Unit = { drain(); current = bucket }
  def drain(): Unit = ListenerDrain(spark.sparkContext)

  def exec(bucket: String): Exec = lock.synchronized(buckets.getOrElse(bucket, new Exec))
  def planningMs: Map[String, Long] = lock.synchronized(planning)

  /** (compile ns, classes compiled) so far in this JVM. */
  def codegen: (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  private def bucketOf(stage: Int): Exec =
    buckets.getOrElseUpdate(stageBucket.getOrElse(stage, current), new Exec)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val b = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .getOrElse(current)
      e.stageIds.foreach(s => stageBucket(s) = b)
      buckets.getOrElseUpdate(b, new Exec).jobs += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val x = bucketOf(e.stageId)
      x.tasks += 1
      stageMaxTask(e.stageId) = math.max(stageMaxTask.getOrElse(e.stageId, 0L), e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        x.cpuNs += m.executorCpuTime
        x.gcMs += m.jvmGCTime
        x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val info = e.stageInfo
      val x = bucketOf(info.stageId)
      x.stages += 1
      for (s <- info.submissionTime; c <- info.completionTime) {
        x.stageWallMs += c - s
        x.maxTaskMs += stageMaxTask.getOrElse(info.stageId, 0L)
      }
      stageMaxTask.remove(info.stageId)
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = lock.synchronized {
      qe.tracker.phases.foreach { case (phase, summary) =>
        planning = planning.updated(phase, planning.getOrElse(phase, 0L) + summary.durationMs)
      }
    }
    override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
  })
}
