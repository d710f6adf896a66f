package perfbench

import graft.GraftSession
import graft.ml.RfDetector
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.DoubleType
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one process on `local[2]`:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *        [--tables DIR]
  *
  * Writes a JSON object to FILE: the wall-clock time of the first timed
  * operation, the operations attempted and failed with the reasons, the
  * end-to-end metrics (`--trace 0`) or the per-layer ones (`--trace 1`),
  * and for the catalog workload the oracle SQL of each query whose
  * parquet result it left under `DIR/results`.
  */
object Main {

  final class Outcome {
    var firstOpMs = 0L
    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer.empty[String]
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val oracles = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def fail(why: String): Unit = { failed += 1; failures += why }
    /** Counts `n` operations of which `bad` failed for `why`. */
    def tally(n: Long, bad: Long, why: => String): Unit = {
      attempted += n
      if (bad > 0) { failed += bad; failures += why }
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work"))
    val spark = GraftSession.getOrCreate("2")
    // keep every micro-batch's progress for the whole run, not the last 100
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val o = new Outcome
    try workload match {
      case "syn_flood" => detect(spark, seed, seconds, trace, work, o)
      case "flow_catalog" => catalog(spark, a("tables"), trace, work, o)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        o.attempted += 1
        o.fail(s"$workload aborted: $e")
    } finally spark.stop()
    val record = new java.util.LinkedHashMap[String, Any]
    record.put("first_op_ms", o.firstOpMs)
    record.put("attempted", o.attempted)
    record.put("failed", o.failed)
    record.put("failures", o.failures.asJava)
    record.put("metrics", o.metrics.asJava)
    record.put("oracles", o.oracles.asJava)
    new ObjectMapper().writeValue(Paths.get(a("out")).toFile, record)
  }

  /** The detector: `RfDetector.pipeline()` (100 trees, depth 6, seed 42)
    * fitted on seeded flows labelled by the generator.
    */
  def fitModel(spark: SparkSession, seed: Long): PipelineModel = {
    val flows = Gen.trainingFlows(seed)
    val schema = org.apache.spark.sql.Encoders.product[graft.flow.FlowFeatures].schema
      .add("binary_label", DoubleType)
    val rows = flows.map { case (f, label) => Row.fromSeq(f.productIterator.toSeq :+ label) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).cache()
    try RfDetector.pipeline().fit(df) finally df.unpersist()
  }

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%6.1f s: $msg")

  private def checkRun(what: String, truth: Seq[FlowTruth], verdicts: Seq[Verdict], o: Outcome): Unit = {
    val c = Verdicts.check(truth, verdicts)
    o.tally(c.expected.toLong, c.failed.toLong, s"$what ${c.describe}")
  }

  private def fmt(xs: Seq[Double]): String = xs.map(x => f"$x%.2f").mkString(" ")

  def detect(spark: SparkSession, seed: Long, seconds: Double,
      trace: Boolean, work: Path, o: Outcome): Unit = {
    import Detect._
    // ---- set-up: model, frames, staging ----
    log("session up")
    val model = fitModel(spark, seed)
    log("model fitted")
    val rounds = WarmRounds + Rounds + (if (trace) TracedRounds else 0)
    val drainPlan = Gen.synFlood(seed, rounds * RoundFiles, DrainPktsPerFile, RoundFiles)
    // the paced release schedule lasts `seconds`; no flow spans two files
    val pacedPlan = Gen.synFlood(seed ^ 0x9ACEDL,
      math.max(8, (seconds * 1000 / PacedIntervalMs).toInt), PacedPktsPerFile, 1)
    val staged = stage(drainPlan, work.resolve("drain-frames"), "drain")
    val pacedStaged = stage(pacedPlan, work.resolve("paced-frames"), "paced")
    log(s"frames staged: drain ${drainPlan.packets} packets in $rounds rounds, paced ${pacedPlan.packets}")

    // ---- the production query: warm rounds (set-up), the paced phase,
    // timed rounds, then (traced) rounds with the listeners on ----
    // the engine's CPU: every thread but this one (which only feeds
    // frames and polls progress) and the mover
    val cpu = new EngineCpu
    cpu.exclude(Thread.currentThread())
    val feed = new Feed(spark, model, Scored, staged, drainPlan, work.resolve("drain"), cpu)
    val (timed, paced, traced, tracedMetrics) = try {
      val warm = (0 until WarmRounds).flatMap(feed.round)
      log(s"warm rounds (s): ${fmt(warm.map(r => Progress.durS(r.batches, "triggerExecution")))}")
      o.firstOpMs = System.currentTimeMillis()
      // the paced phase's batches also finish warming the JIT for the
      // timed rounds
      val paced = feed.paced(pacedStaged, pacedPlan)
      val timed = (WarmRounds until WarmRounds + Rounds).flatMap(feed.round)
      val tracer = if (trace) Some(new Tracer(spark, withPlans = false)) else None
      val traced = (WarmRounds + Rounds until rounds).flatMap(feed.round)
      (timed, paced, traced, tracer.map(_.detach()).getOrElse(Map.empty))
    } finally feed.stop()
    val prod = feed.result
    if (prod.stalled) o.fail("the production query did not drain before its deadline")
    // drain verdicts against the released blocks' flows, paced verdicts
    // against the paced flows, and none elsewhere
    val pacedIds = paced.fold(Set.empty[Long])(_.ids)
    val (pacedVerdicts, drainVerdicts) = prod.verdicts.partition(v => pacedIds(v.batch))
    checkRun("production drain", drainPlan.flows, drainVerdicts, o)
    checkRun("paced phase", pacedPlan.flows, pacedVerdicts, o)
    val drains = (timed ++ traced).map(_.drainS(prod.commits))
    log(s"timed and traced rounds (s): ${fmt(drains)}")
    if (drains.exists(_.isNaN)) o.fail("a production drain round committed no verdict")
    val latency = paced.map(latencyMs(prod, pacedPlan, _)).getOrElse(Nil)
    paced.foreach { p =>
      o.tally(1, if (backlogGrew(p.backlog)) 1 else 0, s"paced phase backlog grew: ${p.backlog.mkString(",")}")
    }
    if (timed.size < Rounds || latency.isEmpty) return
    val drainMedian = Stats.median(timed.map(_.drainS(prod.commits)))
    log(s"timed rounds, engine CPU (s): ${fmt(timed.map(_.cpuS))}")
    val tail = Stats.tail(latency, TailPct) match {
      case Right(v) => v
      case Left(why) => o.fail(s"paced phase latency tail: $why"); return
    }
    if (!trace) {
      o.metrics("cpu_s") = Stats.median(timed.map(_.cpuS))
      return
    }
    o.metrics ++= Seq(
      "wall.delivered_s" -> drainMedian,
      "wall.verdict_p50_ms" -> Stats.median(latency),
      "wall.verdict_tail_ms" -> tail)

    // ---- traced: the traced rounds' progress, then the cuts, each a
    // query of its own fed warm rounds and then timed rounds; a layer's
    // figure is the growth of the median round's engine CPU from one cut
    // to the next, and the sink's is the CPU of its write inside the sink
    // cut
    if (traced.size < TracedRounds) return
    val batches = traced.flatMap(_.batches)
    o.metrics ++= tracedMetrics
    o.metrics ++= Progress.metrics(batches)
    val cuts = Seq(DecodeCut, FeaturizeCut, ScoreCut, SinkCut).map { cut =>
      val c = new Feed(spark, model, cut, staged, drainPlan, work.resolve(s"cut-$cut"), cpu)
      val rs = try (0 until CutWarmRounds + CutRounds).flatMap(c.round).drop(CutWarmRounds)
        finally c.stop()
      val r = c.result
      if (r.stalled) o.fail(s"cut $cut did not drain")
      if (cut == SinkCut) checkRun("sink cut",
        drainPlan.flows.filter(_.lastFile < (CutWarmRounds + CutRounds) * RoundFiles), r.verdicts, o)
      val times = rs.map(rd => if (cut == SinkCut) rd.sinkCpuS else rd.cpuS)
      log(s"$cut rounds (s): ${fmt(times)}")
      if (times.size < CutRounds) Double.NaN else Stats.median(times)
    }
    val Seq(decode, featurize, score, sinkWrite) = cuts
    val layers = Seq(
      "ingest.decode_s" -> decode,
      "flow.featurize_s" -> (featurize - decode),
      "ml.score_s" -> (score - featurize),
      "sink.write_s" -> sinkWrite)
    for ((k, v) <- layers if !(v >= 0)) o.fail(f"$k is negative or missing ($v%.3f s): the cuts do not nest")
    val malformed = {
      import org.apache.spark.sql.functions.col
      val rows = graft.ingest.PacketIngest.toPacketRows(graft.ingest.PacketIngest.decodePackets(
        spark.read.text(work.resolve("drain-frames").toString)))
      rows.filter(col("src_ip").isNull || col("dst_ip").isNull || col("ts_us").isNull).count()
    }
    val tracedIds = traced.flatMap(_.ids).toSet
    val verdicts = prod.verdicts.filter(v => tracedIds(v.batch))
    val labels = verdicts.groupBy(_.label).map { case (k, v) => k -> v.size }
    val kept = prod.commits.keySet.intersect(tracedIds)
    val sinkBytes = kept.toSeq.map { b =>
      Files.walk(work.resolve("drain").resolve("out").resolve(s"batch=$b")).filter(p =>
        p.getFileName.toString.startsWith("part-")).mapToLong(p => Files.size(p)).sum()
    }.sum
    // the cuts, measured in queries of their own (each round's CPU holds
    // its per-batch overhead), must account for a production round's CPU
    val wallS = Stats.median(traced.map(_.drainS(prod.commits)))
    val prodCpuS = Stats.median(traced.map(_.cpuS))
    val coverage = layers.map(_._2).sum / prodCpuS
    log(f"traced split (engine CPU s): ${layers.map { case (k, v) => f"$k $v%.3f" }.mkString(", ")}; " +
      f"production round $prodCpuS%.3f CPU s, $wallS%.3f s wall; coverage $coverage%.3f")
    o.metrics ++= layers
    o.metrics ++= Seq(
      "ingest.frames" -> batches.map(_.numInputRows).sum.toDouble,
      "ingest.malformed" -> malformed.toDouble,
      "ml.scored_rows" -> verdicts.size.toDouble,
      "ml.ddos_share" -> labels.getOrElse("DDoS", 0).toDouble / math.max(1, verdicts.size),
      "sink.mb" -> sinkBytes / 1e6,
      "sink.dirs_kept" -> kept.size.toDouble,
      "sink.dirs_removed" -> (batches.size - kept.size).toDouble,
      "gen.lag_tail_ms" -> paced.get.lagMs.max,
      "gen.backlog_end_files" -> paced.get.backlog.lastOption.getOrElse(0.0),
      "trace.cut_coverage" -> coverage,
      "trace.overhead_share" -> (prodCpuS / Stats.median(timed.map(_.cpuS)) - 1))
  }

  /** Untimed warm passes after the cold one, then timed passes; each
    * query's figure is its median over the timed passes.
    */
  val CatalogWarmPasses = 2
  val CatalogPasses = 3

  def catalog(spark: SparkSession, tables: String, trace: Boolean,
      work: Path, o: Outcome): Unit = {
    // ---- set-up: a cold pass that builds the stage views and persists
    // every result for the oracle compare, then warm passes ----
    val results = work.resolve("results")
    val cold = Basket.queries.map { q =>
      o.oracles(q.name) = q.oracle.getOrElse("")
      o.attempted += 1
      try Basket.persist(spark, q, tables, results.resolve(q.name).toString)
      catch { case e: Exception => o.fail(s"${q.name} (cold pass): $e"); 0.0 }
    }

    for (_ <- 1 to CatalogWarmPasses; q <- Basket.queries) {
      o.attempted += 1
      try Basket.deliver(spark, q, tables)
      catch { case e: Exception => o.fail(s"${q.name} (warm pass): $e") }
    }

    // ---- timed: warm passes, each query's wall and engine CPU seconds
    // (this thread plans and drives the queries, so it counts) ----
    o.firstOpMs = System.currentTimeMillis()
    val cpu = new EngineCpu
    val passes = try (1 to CatalogPasses).map { _ =>
      Basket.queries.map { q =>
        o.attempted += 1
        val c0 = cpu.now()
        try (Basket.deliver(spark, q, tables)._1, cpu.now() - c0)
        catch { case e: Exception => o.fail(s"${q.name}: $e"); (0.0, 0.0) }
      }
    } finally cpu.finish()
    log("cold pass: " + Basket.queries.zip(cold).map { case (q, t) => f"${q.name} $t%.2f" }.mkString(", "))
    log(s"${passes.size} passes, wall: ${fmt(passes.map(_.map(_._1).sum))}; engine CPU: " +
      fmt(passes.map(_.map(_._2).sum)))
    val perQuery = Basket.queries.indices.map(i => Stats.median(passes.map(_(i)._1)))
    val perQueryCpu = Basket.queries.indices.map(i => Stats.median(passes.map(_(i)._2)))
    if (!trace) {
      // a pass costs the sum of its queries
      o.metrics("cpu_s") = perQueryCpu.sum
      return
    }

    // ---- traced: one more pass with the listeners attached ----
    val t = new Tracer(spark, withPlans = true)
    val traced = Basket.queries.map { q =>
      o.attempted += 1
      try Basket.deliver(spark, q, tables)
      catch { case e: Exception => o.fail(s"${q.name} (traced): $e"); (0.0, 0.0) }
    }
    o.metrics ++= t.detach()
    o.metrics("driver.analysis_s") = o.metrics("driver.analysis_s") + traced.map(_._2).sum
    o.metrics ++= Basket.queries.zip(perQuery).map { case (q, s) => s"operators.${q.name}.delivered_s" -> s }
    o.metrics ++= Seq(
      "wall.delivered_s" -> perQuery.sum,
      // first-pass excess over the warm median: where the stage views get built
      "operators.stage_view_build_s" -> cold.zip(perQuery).map { case (c, w) => math.max(0.0, c - w) }.sum[Double],
      "trace.overhead_share" -> (traced.map(_._1).sum / perQuery.sum - 1))
  }
}
