package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer probes that watch Spark from outside, through its public
  * listener interfaces: jobs, stages and tasks (`exec`), Catalyst phase
  * times of every action (`catalyst`), and the micro-batch progress
  * reports (`streaming`). Attach it before a streaming query starts: the
  * query runs in a clone of the session, which copies the listeners it
  * has at that moment. Counters only grow while the probe is `active`;
  * `start` and `stop` drain Spark's listener bus first, because Spark
  * delivers listener events asynchronously. */
final class LayerProbe {
  @volatile var active = false
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskRunMs = 0L
  @volatile var taskCpuNs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var spillBytes = 0L
  /** Jobs by the job group they were launched under. */
  val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[String, Long]
  @volatile var analysisMs = 0L
  @volatile var optimizationMs = 0L
  @volatile var planningMs = 0L
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      jobs += 1
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobsByGroup.merge(g, 1L, (a: Long, b: Long) => a + b)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (active) {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      analysisMs += ms("analysis")
      optimizationMs += ms("optimization")
      planningMs += ms("planning")
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def start(spark: SparkSession): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    active = true
  }

  def stop(spark: SparkSession): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    active = false
  }

  /** Micro-batch reports that carried input, in batch order. */
  def batches: Seq[StreamingQueryListener.QueryProgressEvent] =
    progress.asScala.toSeq.filter(_.progress.numInputRows > 0).sortBy(_.progress.batchId)

  def layerMetrics(wallSecs: Double, cores: Int): mutable.LinkedHashMap[String, Metric] = {
    val mb = 1024.0 * 1024.0
    val m = mutable.LinkedHashMap[String, Metric]()
    m("catalyst.analysis_ms") = Metric(analysisMs.toDouble, "ms")
    m("catalyst.optimization_ms") = Metric(optimizationMs.toDouble, "ms")
    m("catalyst.planning_ms") = Metric(planningMs.toDouble, "ms")
    m("exec.jobs") = Metric(jobs.toDouble, "count")
    m("exec.stages") = Metric(stages.toDouble, "count")
    m("exec.tasks") = Metric(tasks.toDouble, "count")
    m("exec.task_run_s") = Metric(taskRunMs / 1e3, "s")
    m("exec.task_cpu_s") = Metric(taskCpuNs / 1e9, "s")
    m("exec.busy_share") = Metric(
      if (wallSecs > 0) taskRunMs / 1e3 / (wallSecs * cores) else 0.0, "ratio")
    m("exec.shuffle_write_mb") = Metric(shuffleWriteBytes / mb, "MB")
    m("exec.shuffle_read_mb") = Metric(shuffleReadBytes / mb, "MB")
    m("exec.spill_mb") = Metric(spillBytes / mb, "MB")
    m
  }
}

final case class Metric(value: Double, unit: String)
