package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** CPU seconds used by the engine: the summed CPU time of every Java
  * thread but the harness's own (this sampler and the threads passed to
  * `exclude`). JIT-compiler and GC threads are not Java threads and are
  * not counted, and neither is time the host steals from the virtual
  * machine: on a shared host that time lengthens wall-clock figures
  * but not these. A thread's time is read every 20 ms, so a thread that
  * ends loses at most its last 20 ms. The samples are kept with their
  * wall-clock time, so the CPU used between two instants can be read
  * afterwards.
  */
final class EngineCpu extends Thread("engine-cpu") {
  setDaemon(true)
  private val mx = ManagementFactory.getThreadMXBean
  require(mx.isThreadCpuTimeSupported, "thread CPU time is not supported here")
  mx.setThreadCpuTimeEnabled(true)
  private val excluded = ConcurrentHashMap.newKeySet[Long]()
  private val lastNs = scala.collection.mutable.Map.empty[Long, Long]
  private val series = ArrayBuffer.empty[(Double, Double)] // (epoch ms, CPU s)
  @volatile private var stopping = false
  excluded.add(getId)
  start()

  def exclude(t: Thread): Unit = excluded.add(t.getId)

  /** Engine CPU seconds so far. */
  def now(): Double = synchronized {
    for (id <- mx.getAllThreadIds if !excluded.contains(id)) {
      val ns = mx.getThreadCpuTime(id)
      if (ns >= 0) lastNs(id) = ns
    }
    val s = lastNs.valuesIterator.sum / 1e9
    series += System.currentTimeMillis().toDouble -> s
    s
  }

  /** Engine CPU seconds at a past instant (epoch ms), interpolated
    * between the samples around it.
    */
  def at(ms: Double): Double = synchronized {
    val i = series.indexWhere(_._1 >= ms)
    if (i < 0) series.last._2
    else if (i == 0) series.head._2
    else {
      val (t0, c0) = series(i - 1)
      val (t1, c1) = series(i)
      if (t1 == t0) c1 else c0 + (c1 - c0) * (ms - t0) / (t1 - t0)
    }
  }

  override def run(): Unit = while (!stopping) { now(); Thread.sleep(20) }

  def finish(): Unit = { stopping = true; join() }
}
