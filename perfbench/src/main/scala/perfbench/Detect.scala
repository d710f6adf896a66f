package perfbench

import graft.DetectionPipeline
import graft.ingest.PacketIngest
import graft.sink.Sinks
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, instr}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** What one query committed, seen from outside the engine: each
  * micro-batch's commit time (the mtime of its `_SUCCESS`) and every
  * verdict with the batch it landed in.
  */
final case class RunResult(commits: Map[Long, Double], verdicts: Seq[Verdict], stalled: Boolean)

/** One drain round: the micro-batches from the first that read the
  * round's frames to the first after which every frame was read and the
  * flow state was empty again, the engine CPU seconds used from the
  * first batch's start to the last one's end, and the engine CPU seconds
  * used while the sink cut was in the sink's write.
  */
final case class Round(batches: Vector[StreamingQueryProgress], cpuS: Double, sinkCpuS: Double) {
  def startMs: Double = Round.startMs(batches.head)
  def ids: Set[Long] = batches.map(_.batchId).toSet
  /** Seconds from the start of the round's first batch to its last
    * verdict commit (NaN when it committed none).
    */
  def drainS(commits: Map[Long, Double]): Double =
    ids.flatMap(commits.get).maxOption.map(c => (c - startMs) / 1e3).getOrElse(Double.NaN)
}

object Round {
  /** Wall clock at a batch's start, epoch ms. */
  def startMs(b: StreamingQueryProgress): Double =
    java.time.Instant.parse(b.timestamp).toEpochMilli.toDouble
  /** Wall clock at a batch's end, epoch ms. */
  def endMs(b: StreamingQueryProgress): Double =
    startMs(b) + Option(b.durationMs.get("triggerExecution")).fold(0L)(_.longValue)
}

object Detect {
  /** Every query triggers every 100 ms, so batches run back to back: a
    * drain round measures capacity, and in the paced phase a file waits
    * only for the batch in flight.
    */
  val TriggerMs = 100L
  /** Session timeout, shorter than the trigger interval: a flow gets its
    * verdict in the batch right after the last one that updated it, never
    * a later one, whatever the batches' length. (A timeout near a batch's
    * length would let jitter flip verdicts between the next batch and the
    * one after and make the figures bimodal.)
    */
  val TimeoutMs = 50L
  /** Frame files per micro-batch. */
  val FilesPerTrigger = 2

  /** A drain round releases 6 files, about 14,000 packets, at once. */
  val RoundFiles = 6
  val DrainPktsPerFile = 2500
  /** The production query runs untimed warm rounds first (its own start
    * and JIT warm-up), then the paced phase, timed rounds (the median is
    * reported) and, in a traced run, rounds with the listeners on.
    */
  val WarmRounds = 3
  val Rounds = 6
  val TracedRounds = 2
  /** Each cut of a traced run is a fresh query: two warm rounds, then
    * timed rounds.
    */
  val CutWarmRounds = 2
  val CutRounds = 2

  /** The paced phase offers 487 packets every 487 ms (1 kpps), about a
    * fifth of the drain rate, in files whose flows lie wholly inside
    * them.
    */
  val PacedPktsPerFile = 487
  val PacedIntervalMs = 487
  /** Verdict-latency tail percentile. Verdicts come hundreds to a
    * micro-batch and share its timing, so p99 would be set by the single
    * slowest batch; p90 still leaves hundreds beyond it.
    */
  val TailPct = 90.0

  /** The layer cut a query stops at: `Scored` is the production pipeline
    * (`DetectionPipeline.start`); the others end in a `noop` write.
    */
  sealed trait Cut
  case object DecodeCut extends Cut    // decode + typed packet rows
  case object FeaturizeCut extends Cut // + stateful featurizer + completed-flow filter
  case object ScoreCut extends Cut     // + random-forest scoring and label
  /** + the NDJSON verdict sink, with the scored batch cached first so
    * that the sink's own write (`Sinks.writeNdjsonNonEmpty`) is timed
    * apart from everything before it.
    */
  case object SinkCut extends Cut
  case object Scored extends Cut       // the production pipeline

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def startCut(spark: SparkSession, model: PipelineModel, cut: Cut, in: Path,
      out: Path, ckpt: Path, sinkMs: ConcurrentHashMap[Long, (Double, Double)]): StreamingQuery = {
    val raw = spark.readStream.option("maxFilesPerTrigger", FilesPerTrigger.toString).text(in.toString)
    def each(f: (DataFrame, Long) => Unit)(df: DataFrame): StreamingQuery =
      df.writeStream.outputMode("update").trigger(Trigger.ProcessingTime(TriggerMs))
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (b: DataFrame, id: Long) => f(b, id); () }
        .start()
    cut match {
      case DecodeCut =>
        each((b, _) => noop(b))(PacketIngest.toPacketRows(PacketIngest.decodePackets(raw)))
      case FeaturizeCut =>
        each((b, _) => noop(b.filter(instr(col("flow_id"), "_TIMEOUT") > 0)))(
          DetectionPipeline.flowsOf(raw, TimeoutMs).toDF())
      case ScoreCut =>
        each((b, _) => noop(DetectionPipeline.scored(b, model)))(
          DetectionPipeline.flowsOf(raw, TimeoutMs).toDF())
      case SinkCut =>
        each { (b, id) =>
          val s = DetectionPipeline.scored(b, model).persist()
          try {
            noop(s)
            val t0 = System.currentTimeMillis().toDouble
            Sinks.writeNdjsonNonEmpty(s, s"$out/batch=$id")
            sinkMs.put(id, (t0, System.currentTimeMillis().toDouble))
          } finally s.unpersist()
        }(DetectionPipeline.flowsOf(raw, TimeoutMs).toDF())
      case Scored =>
        DetectionPipeline.start(raw, model, out.toString, ckpt.toString,
          TimeoutMs, s"$TriggerMs milliseconds")
    }
  }

  /** Polls the query's progress until `done` holds of it, the query
    * fails, or 60 s pass; whether `done` held.
    */
  private def await(q: StreamingQuery)(done: Array[StreamingQueryProgress] => Boolean): Boolean = {
    val deadline = System.nanoTime() + 60000000000L
    var ok = done(q.recentProgress)
    while (!ok && q.exception.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(25)
      ok = done(q.recentProgress)
    }
    ok
  }

  /** Whether the flow state was empty after a batch. */
  private def stateEmpty(p: StreamingQueryProgress): Boolean =
    p.stateOperators.headOption.exists(_.numRowsTotal == 0)

  /** The batches of the round fed after batch `after`, once it is
    * complete: from the first batch that read rows to the first after
    * which `target` rows were read since the query started and (for a
    * stateful cut) the flow state was empty.
    */
  private def roundOf(ps: Seq[StreamingQueryProgress], after: Long, target: Long,
      stateful: Boolean): Option[Vector[StreamingQueryProgress]] = {
    var rows = 0L
    var first = -1
    for ((p, i) <- ps.zipWithIndex) {
      rows += p.numInputRows
      if (p.batchId > after) {
        if (first < 0 && p.numInputRows > 0) first = i
        if (first >= 0 && rows >= target && (!stateful || stateEmpty(p)))
          return Some(ps.slice(first, i + 1).toVector)
      }
    }
    None
  }

  /** Rows read by a query so far. */
  private def consumed(ps: Seq[StreamingQueryProgress]): Long = ps.iterator.map(_.numInputRows).sum

  /** One long-running query of `cut` over the directory `work/in`, fed
    * one phase at a time: a drain round moves one block of the staged
    * plan into the directory at once; the paced phase releases files on
    * a schedule. Each phase ends when the query has read every packet
    * released so far and (for a stateful cut) its flow state is empty.
    * `stop()` must follow, then `result`.
    */
  final class Feed(spark: SparkSession, model: PipelineModel, cut: Cut, staged: Vector[Path],
      plan: Plan, work: Path, cpu: EngineCpu) {
    private val watch = Files.createDirectories(work.resolve("in"))
    private val own = Files.createDirectories(work.resolve("staged"))
    private val out = work.resolve("out")
    // the sink cut's write spans (epoch ms) by batch
    private val sinkMs = new ConcurrentHashMap[Long, (Double, Double)]
    private val q = startCut(spark, model, cut, watch, out, work.resolve("ckpt"), sinkMs)
    private val blockPackets = plan.files.map(_.size.toLong).grouped(RoundFiles).map(_.sum).toVector
    private var after = -1L   // last batch of the previous phase
    private var target = 0L   // packets released so far
    private var stalled = false

    /** Waits until the phase released after batch `after` is complete;
      * its batches, or None (and `stalled`) when it does not complete.
      */
    private def finish(): Option[Vector[StreamingQueryProgress]] = {
      var got: Option[Vector[StreamingQueryProgress]] = None
      if (!await(q) { ps => got = roundOf(ps.toSeq, after, target, cut != DecodeCut); got.nonEmpty })
        stalled = true
      got.foreach(bs => after = bs.last.batchId)
      got
    }

    /** Drains block `k` of the plan. */
    def round(k: Int): Option[Round] = if (stalled) None else {
      val files = staged.slice(k * RoundFiles, (k + 1) * RoundFiles).map { p =>
        Files.copy(p, own.resolve(p.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
      }
      target += blockPackets(k)
      files.foreach(p => Files.move(p, watch.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE))
      finish().map { bs =>
        cpu.now() // a sample after the round's end
        Round(bs, cpu.at(Round.endMs(bs.last)) - cpu.at(Round.startMs(bs.head)),
          bs.flatMap(b => Option(sinkMs.get(b.batchId))).map { case (a, z) => cpu.at(z) - cpu.at(a) }.sum)
      }
    }

    /** The paced phase: one mover thread releases `files` (of `paced`)
      * every `PacedIntervalMs`, whatever the engine's state.
      */
    def paced(files: Vector[Path], paced: Plan): Option[PacedRun] = if (stalled) None else {
      val backlog = ArrayBuffer.empty[Double]
      val released = paced.files.map(_.size.toLong).scanLeft(target)(_ + _)
      val mover = new Mover(files, watch, System.currentTimeMillis() + 100, PacedIntervalMs,
        i => backlog.synchronized {
          backlog += (released(i + 1) - consumed(q.recentProgress.toSeq)).toDouble / PacedPktsPerFile
        })
      cpu.exclude(mover)
      try { mover.start(); mover.join() }
      finally if (mover.isAlive) { mover.interrupt(); mover.join() }
      target = released.last
      finish().map(bs => PacedRun(bs.map(_.batchId).toSet, mover.dueMs.toVector, mover.lagMs.toVector,
        backlog.synchronized(backlog.toVector)))
    }

    def stop(): Unit = q.stop()

    /** Every commit and (for the cuts that write verdicts) every verdict. */
    def result: RunResult = {
      q.exception.foreach(e => throw e)
      RunResult(Verdicts.commits(out),
        if (cut == Scored || cut == SinkCut) Verdicts.read(out) else Nil, stalled)
    }
  }

  /** Releases staged frame files into the watched directory on a fixed
    * schedule from one thread: file i is due at `t0 + i * interval`,
    * however far behind the engine is.
    */
  final class Mover(files: Vector[Path], into: Path, t0Ms: Long, intervalMs: Int,
      onRelease: Int => Unit) extends Thread("frame-mover") {
    val dueMs: Array[Double] = Array.tabulate(files.size)(i => (t0Ms + i.toLong * intervalMs).toDouble)
    val lagMs = new Array[Double](files.size)
    override def run(): Unit =
      for (i <- files.indices) {
        val wait = dueMs(i).toLong - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val target = into.resolve(files(i).getFileName)
        Files.move(files(i), target, StandardCopyOption.ATOMIC_MOVE)
        lagMs(i) = System.currentTimeMillis() - dueMs(i)
        onRelease(i)
      }
  }

  /** The paced phase: its batches, each file's due time and how late the
    * mover released it, and the backlog the engine carried at each
    * release (frame files released but not yet read).
    */
  final case class PacedRun(ids: Set[Long], dueMs: Vector[Double], lagMs: Vector[Double],
      backlog: Vector[Double])

  /** Flows whose last packet is in one of the first files are checked
    * but not timed: those files meet the change from drain to pace.
    */
  val PacedWarmFiles = 2

  /** Per-flow verdict latency of the paced phase: its verdict batch's
    * commit time minus the due time of the file holding the flow's last
    * packet, minus the session timeout.
    */
  def latencyMs(r: RunResult, plan: Plan, p: PacedRun): Seq[Double] = {
    val truth = plan.flows.map(f => f.flowId -> f).toMap
    r.verdicts.filter(v => p.ids(v.batch)).flatMap { v =>
      truth.get(v.flowId).filter(_.lastFile >= PacedWarmFiles).map { f =>
        r.commits(v.batch) - p.dueMs(f.lastFile) - TimeoutMs
      }
    }
  }

  /** Backlog growth: the mean backlog over the last third of releases
    * exceeds the middle third's by more than two files. (The first
    * third is the ramp to the steady backlog of one batch's releases.)
    */
  def backlogGrew(backlog: Seq[Double]): Boolean = {
    val t = math.max(1, backlog.size / 3)
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    mean(backlog.takeRight(t)) - mean(backlog.slice(t, 2 * t)) > 2.0
  }

  /** Writes a plan's frames under `dir`, stamping file i's mtime i
    * seconds after file 0, so the file source takes them in order. The
    * file source never reads a name twice: plans fed to one query need
    * distinct prefixes.
    */
  def stage(plan: Plan, dir: Path, prefix: String): Vector[Path] = {
    val paths = plan.write(dir, prefix)
    val base = System.currentTimeMillis() - paths.size * 1000L - 60000L
    paths.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
    paths
  }
}
