package perfbench

import graft.Q
import graft.flow.BatchFlowFeaturizer
import graft.operators.{Detection, Ewma, Mitigation, Relational, Sessionize, Sketches}
import org.apache.spark.sql.SparkSession

/** The batch catalog basket: the detection-centred queries plus one
  * whose delivered result costs most over its `count()`. Resolved by
  * name from the operator modules' own query lists.
  */
object Basket {
  val Names: Seq[String] = Seq(
    "q_flow_features", "q_detect_label", "q_src_entropy", "q_mg_heavy_hitters",
    "q_cidr_block_match", "q_ewma_burst", "q_sessionize", "q_approx_distinct_users")

  lazy val queries: Seq[Q] = {
    val all = (BatchFlowFeaturizer.all ++ Detection.all ++ Sketches.all ++ Mitigation.all ++
      Ewma.all ++ Sessionize.all ++ Relational.all).map(q => q.name -> q).toMap
    Names.map(n => all.getOrElse(n, sys.error(s"basket query $n is not in the catalog")))
  }

  /** Delivers a query's whole result through a `noop` write. Returns
    * the wall seconds and the seconds Spark spent analysing the query's
    * DataFrame while it was built (its own phase tracker; the write's
    * execution reports the later phases to listeners).
    */
  def deliver(spark: SparkSession, q: Q, dir: String): (Double, Double) = {
    val t0 = System.nanoTime()
    val df = q.run(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
    ((System.nanoTime() - t0) / 1e9, analysisMs / 1e3)
  }

  /** Writes a query's result as parquet for the oracle compare; seconds. */
  def persist(spark: SparkSession, q: Q, dir: String, out: String): Double = {
    val t0 = System.nanoTime()
    q.run(spark, dir).write.mode("overwrite").parquet(out)
    (System.nanoTime() - t0) / 1e9
  }
}
