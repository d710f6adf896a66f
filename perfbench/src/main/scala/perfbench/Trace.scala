package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Task metrics summed over every task that ends while attached. */
final class TaskTotals extends SparkListener {
  private var cpuNs, gcMs, spillBytes, shuffleWriteBytes = 0L
  private var peakExecMem = 0L
  // per shuffle-reading stage: records each task read
  private val readsByStage = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      val read = m.shuffleReadMetrics.recordsRead
      if (read > 0) readsByStage.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += read
    }
  }

  /** Largest ratio, over shuffle-reading stages, of the busiest task's
    * records to the mean task's (1 means perfectly even).
    */
  private def skew: Double = readsByStage.values.filter(_.size > 1).map { rs =>
    rs.max.toDouble / (rs.sum.toDouble / rs.size)
  }.maxOption.getOrElse(1.0)

  def metrics: Map[String, Double] = synchronized {
    Map(
      "exec.task_cpu_s" -> cpuNs / 1e9,
      "exec.gc_s" -> gcMs / 1e3,
      "exec.spill_mb" -> spillBytes / 1e6,
      "exec.peak_exec_mem_mb" -> peakExecMem / 1e6,
      "exchange.shuffle_write_mb" -> shuffleWriteBytes / 1e6,
      "exchange.partition_skew" -> skew)
  }
}

/** Driver phase times of every batch query that succeeds while attached,
  * from each execution's phase tracker.
  */
final class PlanPhases extends QueryExecutionListener {
  private val sums = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (phase, s) => sums(phase) += s.durationMs }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def metrics: Map[String, Double] = synchronized {
    Map(
      "driver.analysis_s" -> sums("analysis") / 1e3,
      "driver.optimization_s" -> sums("optimization") / 1e3,
      "driver.planning_s" -> sums("planning") / 1e3)
  }
}

object Progress {
  def durS(bs: Seq[StreamingQueryProgress], key: String): Double =
    bs.map(b => Option(b.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum / 1e3

  /** Stream-layer and state-layer figures of one run's batches. */
  def metrics(bs: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val ops = bs.flatMap(_.stateOperators.headOption)
    val trigger = durS(bs, "triggerExecution")
    val add = durS(bs, "addBatch")
    Map(
      "stream.batches" -> bs.size.toDouble,
      "stream.add_batch_s" -> add,
      "stream.planning_s" -> durS(bs, "queryPlanning"),
      "stream.wal_commit_s" -> durS(bs, "walCommit"),
      "stream.commit_offsets_s" -> durS(bs, "commitOffsets"),
      "stream.fixed_ms_per_batch" -> (if (bs.isEmpty) 0.0 else (trigger - add) * 1e3 / bs.size),
      "flow.state_rows_peak" -> ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "flow.state_mb_peak" -> ops.map(_.memoryUsedBytes / 1e6).maxOption.getOrElse(0.0),
      "flow.state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3,
      "flow.state_update_s" -> ops.map(_.allUpdatesTimeMs).sum / 1e3,
      "flow.state_removal_s" -> ops.map(_.allRemovalsTimeMs).sum / 1e3,
      "flow.timed_out" -> ops.map(_.numRowsRemoved).sum.toDouble)
  }
}

/** Peak heap occupancy right after a collection, sampled from the
  * memory pools' collection usage.
  */
final class HeapPeak extends Thread("heap-peak") {
  setDaemon(true)
  @volatile private var stopping = false
  @volatile var peakBytes = 0L
  private def sample(): Unit = {
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum
    peakBytes = math.max(peakBytes, used)
  }
  override def run(): Unit = while (!stopping) { sample(); Thread.sleep(100) }
  def finish(): Map[String, Double] = {
    stopping = true; join(); sample()
    Map("jvm.heap_after_gc_peak_mb" -> peakBytes / 1e6)
  }
}

/** The listeners one traced phase attaches, detached together. */
final class Tracer(spark: SparkSession, withPlans: Boolean) {
  val tasks = new TaskTotals
  val plans = new PlanPhases
  private val heap = new HeapPeak
  spark.sparkContext.addSparkListener(tasks)
  if (withPlans) spark.listenerManager.register(plans)
  heap.start()

  def detach(): Map[String, Double] = {
    // listener events are delivered asynchronously; let the bus drain
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(tasks)
    if (withPlans) spark.listenerManager.unregister(plans)
    tasks.metrics ++ heap.finish() ++ (if (withPlans) plans.metrics else Map.empty)
  }
}
