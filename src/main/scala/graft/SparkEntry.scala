package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by the operator modules under
  * `graft.operators` / `graft.flow` / `graft.ml`; each carries its own
  * DuckDB oracle when SQL-expressible.
  */
object SparkEntry {

  def catalog: Seq[Q] =
    operators.Relational.all ++
      flow.BatchFlowFeaturizer.all ++
      flow.FlowFeaturizer.all ++
      operators.Cleaning.all ++
      operators.Detection.all ++
      operators.Sessionize.all ++
      operators.RateWindow.all ++
      operators.MultiDimAgg.all ++
      operators.Joins.all ++
      operators.AsOfJoin.all ++
      operators.Dedup.all ++
      operators.Similarity.all ++
      operators.Pq.all ++
      operators.TextAnalysis.all ++
      operators.Retrieval.all ++
      operators.Bpe.all ++
      operators.Sampling.all ++
      operators.CorpusFilter.all ++
      operators.Multimodal.all ++
      operators.SemiStructured.all ++
      operators.TimeSeries.all ++
      operators.StreamJoin.all ++
      operators.Sketches.all ++
      operators.MgStream.all ++
      operators.QdStream.all ++
      operators.HllStream.all ++
      operators.ThreatScreen.all ++
      operators.ThreatScreenStream.all ++
      operators.Layout.all ++
      operators.Scd.all ++
      operators.StatefulTotals.all ++
      operators.OpsDiagnostics.all ++
      operators.Quantize.all ++
      operators.Cdc.all ++
      operators.Packing.all ++
      operators.Privacy.all ++
      operators.WebCorpus.all ++
      operators.Behavior.all ++
      operators.Mitigation.all ++
      operators.Concurrency.all ++
      operators.MarketBasket.all ++
      operators.Profiling.all ++
      operators.Ewma.all ++
      operators.Cusum.all ++
      operators.Deciles.all ++
      operators.Fulfillment.all ++
      ml.RfDetector.all ++
      ml.PretrainedRf.all ++
      ingest.CsvFlows.roundtripQueries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The engine's core: the 82-column flow featurization.
    */
  def entry(spark: SparkSession): DataFrame =
    flow.BatchFlowFeaturizer.qFlowFeatures.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(q.name -> _.trim)).toMap
}
