package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** Layer counters for the traced run. A `SparkListener` books jobs,
  * stages, tasks and their metrics; a `QueryExecutionListener` books the
  * Catalyst phases of every executed query; codegen comes from Spark's
  * process-wide compile counters. Work is attributed to a phase through
  * the `perfbench.phase` local property, which Spark copies into every
  * job's properties, so no counter needs a drain between operations.
  * Cached RDD blocks are followed through block updates and unpersists.
  *
  * Counters only grow; callers take [[snapshot]]s and subtract. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = counts.synchronized { counts(k) += v }

  // bytes of every cached RDD block, and the peak of their sum since install
  private val cached = mutable.Map[BlockId, Long]()
  private var peakBytes = 0L
  private def cacheChanged(): Unit = peakBytes = math.max(peakBytes, cached.values.sum)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("operators.jobs", 1)
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("")
      add(s"jobs.$phase", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("operators.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("operators.tasks", 1)
      if (e.reason != Success) add("operators.task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        add("operators.task_busy_s", m.executorRunTime / 1e3)
        // Spark UI's scheduler delay: the task's wall time not spent
        // deserializing, running or serializing its result.
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime
        add("operators.scheduler_wait_s", math.max(0L, delay) / 1e3)
        add("operators.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / Mb)
        add("operators.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / Mb)
        add("operators.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / Mb)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) counts.synchronized {
        val bytes = b.memSize + b.diskSize
        if (b.storageLevel.isValid && bytes > 0) {
          if (!cached.contains(b.blockId)) counts("operators.cached_blocks") += 1
          cached(b.blockId) = bytes
        } else cached.remove(b.blockId)
        cacheChanged()
      }
    }
    // unpersist drops blocks without a block update
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = counts.synchronized {
      cached.keys.filter(_.asRDDId.exists(_.rddId == e.rddId)).toSeq.foreach(cached.remove)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, summary) =>
        add(s"plans.${phase}_s", summary.durationMs / 1e3)
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** The most cached RDD data held at once since [[install]], in MB. */
  def cachePeakMb: Double = { drain(); counts.synchronized(peakBytes / Mb) }

  /** Run `body` with its Spark jobs attributed to `phase`. */
  def inPhase[T](phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, phase)
    try body finally sc.setLocalProperty(PhaseKey, prev)
  }

  /** Current counter values, after draining the listener bus. */
  def snapshot(): Map[String, Double] = {
    drain()
    val c = counts.synchronized(counts.toMap)
    c ++ Map(
      "plans.codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "plans.codegen_s" -> CodeGenerator.compileTime / 1e9)
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"
  private val Mb = 1024.0 * 1024.0

  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
