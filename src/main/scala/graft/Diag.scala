package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import scala.util.control.NonFatal

/** The engine's one diagnostic entry point. Both modes take catalog
  * query names; with none given they cover the whole catalog.
  *
  *   runMain graft.Diag time <sfDir> [query...]
  *   runMain graft.Diag plan [--out DIR] <sfDir> [query...]
  *
  * `time` runs each query once warm, then [[TimedRuns]] timed runs.
  * Every run delivers the whole result through a `noop` write, so all
  * output columns are computed; `.count()` would let Catalyst prune
  * the work a query exists for.
  *
  * `plan` runs each query once so its shared stages are hot, then
  * prints the steady-state formatted physical plan with the
  * tree-collected FileSourceScan/BatchScan and InMemoryTableScan
  * counts (0 file scans is Round18bOpsSpec's gate for staged finals).
  * `--out DIR` also writes one `<query>.txt` per query.
  *
  * An unknown name or a failing query is reported on stderr and
  * skipped: one typo must not abort a long run.
  */
object Diag {

  val TimedRuns = 3

  final case class Timing(query: String, warmS: Double, runsS: Seq[Double])
  final case class Plan(query: String, fileScans: Int, memScans: Int, text: String)

  def main(args: Array[String]): Unit = {
    def session(body: SparkSession => Unit): Unit = {
      val spark = GraftSession.getOrCreate()
      try body(spark) finally spark.stop()
    }
    args.toList match {
      case "time" :: sfDir :: names => session(time(_, sfDir, names))
      case "plan" :: "--out" :: d :: sfDir :: names => session(plan(_, sfDir, names, Some(d)))
      case "plan" :: sfDir :: names if sfDir != "--out" => session(plan(_, sfDir, names))
      case _ =>
        System.err.println(
          "usage: graft.Diag time <sfDir> [query...] | plan [--out DIR] <sfDir> [query...]")
        sys.exit(2)
    }
  }

  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Timing] =
    each(spark, names) { (name, run) =>
      val warm = seconds(deliver(run(spark, sfDir)))
      val runs = Seq.fill(TimedRuns)(seconds(deliver(run(spark, sfDir))))
      println(f"[diag] $name%-36s warm $warm%7.3f s  runs " +
        runs.map(r => f"$r%.3f").mkString(" ") + f"  min ${runs.min}%.3f s")
      Timing(name, warm, runs)
    }

  def plan(spark: SparkSession, sfDir: String, names: Seq[String],
      out: Option[String] = None): Seq[Plan] = {
    out.foreach(d => Files.createDirectories(Paths.get(d)))
    try each(spark, names) { (name, run) =>
      deliver(run(spark, sfDir)) // builds and materializes shared stages
      GraftSession.dropStreamSinks(spark)
      val qe = run(spark, sfDir).queryExecution
      // an InMemoryTableScan's cached child is not among its children,
      // so tree collection counts only scans that would execute
      val tree = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val fileScans = tree.collect {
        case f: FileSourceScanExec => f
        case b: BatchScanExec => b
      }.size
      val memScans = tree.collect { case m: InMemoryTableScanExec => m }.size
      val text =
        s"$name steady-state physical plan ($sfDir, shared stages hot)\n" +
          s"tree-collected FileSourceScan/BatchScan nodes: $fileScans\n" +
          s"tree-collected InMemoryTableScan nodes: $memScans\n\n" +
          qe.explainString(FormattedMode)
      println(text)
      out.foreach(d => Files.writeString(Paths.get(d, s"$name.txt"), text))
      Plan(name, fileScans, memScans, text)
    } finally operators.StageViews.unpersistAll(spark)
  }

  /** Applies `f` to each named query (the catalog when none are named)
    * and drops its memory-sink views after; unknown names and failing
    * queries are reported on stderr and left out of the result.
    */
  private def each[A](spark: SparkSession, names: Seq[String])(
      f: (String, (SparkSession, String) => DataFrame) => A): Seq[A] = {
    val catalog = SparkEntry.catalog.map(q => q.name -> q.run)
    val byName = catalog.toMap
    val chosen = if (names.isEmpty) catalog else names.flatMap { n =>
      val q = byName.get(n).map(n -> _)
      if (q.isEmpty) Console.err.println(s"[diag] unknown query '$n' skipped")
      q
    }
    chosen.flatMap { case (name, run) =>
      try Some(f(name, run))
      catch { case NonFatal(e) =>
        Console.err.println(s"[diag] $name failed: ${e.getMessage}")
        None
      } finally GraftSession.dropStreamSinks(spark)
    }
  }

  private def deliver(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}
