package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One verdict row as the sink committed it, with the micro-batch
  * directory it landed in.
  */
final case class Verdict(flowId: String, tsUs: Long, label: String, batch: Long)

/** Verdicts against the generator's truth: every flow must get exactly
  * one `_TIMEOUT` verdict whose `timestamp_us` is its last packet time.
  */
final case class VerdictCheck(expected: Int, got: Int, missing: Int, duplicated: Int,
    extra: Int, wrongTs: Int) {
  def failed: Int = missing + duplicated + extra + wrongTs
  def describe: String =
    s"verdicts: expected $expected, got $got, missing $missing, duplicated $duplicated, " +
      s"extra $extra, wrong timestamp $wrongTs"
}

object Verdicts {

  def check(truth: Seq[FlowTruth], got: Seq[Verdict]): VerdictCheck = {
    val want = truth.map(t => t.flowId -> t.lastTsUs).toMap
    val byId = got.groupBy(_.flowId)
    val missing = want.keys.count(k => !byId.contains(k))
    val duplicated = byId.iterator.filter(kv => want.contains(kv._1)).map(_._2.size - 1).sum
    val extra = byId.iterator.filterNot(kv => want.contains(kv._1)).map(_._2.size).sum
    val wrongTs = byId.iterator.filter(kv => want.contains(kv._1))
      .count(kv => kv._2.exists(_.tsUs != want(kv._1)))
    VerdictCheck(want.size, got.size, missing, duplicated, extra, wrongTs)
  }

  private val BatchDir = "batch=(\\d+)".r

  /** Committed micro-batch directories under a sink root, with the time
    * each was committed (the mtime of its `_SUCCESS` marker, epoch ms).
    */
  def commits(outDir: Path): Map[Long, Double] =
    if (!Files.isDirectory(outDir)) Map.empty
    else {
      val ds = Files.list(outDir)
      try ds.iterator().asScala.flatMap { d =>
        d.getFileName.toString match {
          case BatchDir(id) if Files.exists(d.resolve("_SUCCESS")) =>
            val t = Files.getLastModifiedTime(d.resolve("_SUCCESS"))
            Some(id.toLong -> t.to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0)
          case _ => None
        }
      }.toMap finally ds.close()
    }

  /** Every verdict the sink committed under `outDir`. */
  def read(outDir: Path): Seq[Verdict] = {
    val mapper = new ObjectMapper()
    commits(outDir).keys.toSeq.sorted.flatMap { b =>
      val ds = Files.list(outDir.resolve(s"batch=$b"))
      val parts = try ds.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toVector finally ds.close()
      parts.flatMap { p =>
        Files.readAllLines(p).asScala.filter(_.nonEmpty).map { line =>
          val n = mapper.readTree(line)
          Verdict(n.get("flow_id").asText(), n.get("timestamp_us").asLong(),
            n.get("Label").asText(), b)
        }
      }
    }
  }
}
