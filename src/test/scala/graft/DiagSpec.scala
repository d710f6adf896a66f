package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `Diag`, the engine's diagnostic entry point, run in-process: `plan`
  * reports the steady-state scan counts Round18bOpsSpec gates, `time`
  * cleans up after streaming queries, and an unknown name never stops
  * the names after it.
  */
class DiagSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("plan: a staged final reads no files once its stages are hot") {
    // start from a clean stage registry, as the Round18bOpsSpec gate does
    operators.StageViews.unpersistAll(spark)
    val out = java.nio.file.Files.createTempDirectory("diag_plan")
    val Seq(p) = Diag.plan(spark, dir, Seq("q_bm25_topk"), Some(out.toString))
    assert(p.query == "q_bm25_topk")
    assert(p.fileScans == 0, p.text)
    assert(p.memScans > 0, p.text)
    val written = java.nio.file.Files.readString(out.resolve("q_bm25_topk.txt"))
    assert(written == p.text)
    assert(written.contains("tree-collected FileSourceScan/BatchScan nodes: 0"))
  }

  test("time: a streaming query leaves no memory-sink view behind") {
    val before = tempViews
    val Seq(t) = Diag.time(spark, dir, Seq("q_rate_window_stream"))
    assert(t.runsS.size == Diag.TimedRuns && t.runsS.forall(_ > 0.0))
    assert(tempViews == before)
    assert(spark.streams.active.isEmpty)
  }

  test("an unknown query name is reported and skipped, not thrown") {
    val err = new java.io.ByteArrayOutputStream()
    val ran = Console.withErr(err) {
      Diag.time(spark, dir, Seq("q1_pricing_summary", "q_no_such_query", "q_distinct_users"))
    }
    assert(ran.map(_.query) == Seq("q1_pricing_summary", "q_distinct_users"))
    assert(err.toString.contains("unknown query 'q_no_such_query'"))
  }
}
