package graft.ml

import graft.Tables
import graft.flow.BatchFlowFeaturizer
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** predict_rf.py parity: pretrained-model batch scoring (S5 load, P5-P10
  * clean, RF transform, P2 label map, K3 NDJSON sink) plus the TreeSql
  * compilation proof over the repo's persisted model
  * (PretrainedRf.ModelPath) — the compiled SQL form of the 100-tree forest must
  * reproduce MLlib's raw votes and predictions BIT-FOR-BIT, since it is
  * the DuckDB oracle for q_rf_pretrained_score.
  */
class PretrainedRfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  lazy val flows = BatchFlowFeaturizer.fromEvents(Tables.events(spark, sf)).cache()

  /** 2000 synthetic off-corpus feature vectors (`id` plus the model's
    * input columns as doubles): deterministic pseudo-random features
    * spanning each split's threshold neighborhood (no Math.random:
    * xxhash64-derived), so boundary behavior (<= vs <) is exercised away
    * from the real corpus' value distribution.
    */
  private def sweep = {
    // per-feature scale spans 0.1×..10^5× so thresholds at any
    // magnitude (packet counts vs byte rates vs µs IATs) get crossed
    val featExprs = PretrainedRf.assembler.getInputCols.zipWithIndex.map { case (c, k) =>
      s"CAST(pmod(xxhash64(id, $k), 2000) AS DOUBLE) * CAST(pow(10.0, CAST(pmod(xxhash64(id, ${k + 100}), 7) AS DOUBLE) - 1.0) AS DOUBLE) AS `$c`"
    }
    spark.range(2000).selectExpr("id" +: featExprs: _*)
  }

  test("compiled tree SQL reproduces MLlib votes and predictions bit-for-bit") {
    import spark.implicits._
    val cols = PretrainedRf.assembler.getInputCols
    flows.createOrReplaceTempView("prf_feats")
    val compiled = spark.sql(s"""
      SELECT flow_id, v0, v1, ${TreeSql.predictionSql()} AS prediction
      FROM (SELECT flow_id,
                   ${TreeSql.votesSql(PretrainedRf.rf, 0, i => cols(i))} AS v0,
                   ${TreeSql.votesSql(PretrainedRf.rf, 1, i => cols(i))} AS v1
            FROM prf_feats)""")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val mllib = PretrainedRf.model.transform(PretrainedRf.cleaned(flows))
      .select($"flow_id",
        vector_to_array($"rawPrediction").getItem(0).as("v0"),
        vector_to_array($"rawPrediction").getItem(1).as("v1"),
        $"prediction")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(compiled.keySet == mllib.keySet)
    assert(compiled.nonEmpty)
    // exact double equality — the oracle depends on bit-identity
    val mismatches = compiled.collect {
      case (id, c) if mllib(id) != c => (id, c, mllib(id))
    }
    assert(mismatches.isEmpty, s"first mismatches: ${mismatches.take(3)}")
  }

  test("scoring emits P2 labels consistent with predictions; NDJSON roundtrip (K3)") {
    val scored = PretrainedRf.score(flows).cache()
    val rows = scored.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val (p, l) = (r.getAs[Double]("prediction"), r.getAs[String]("Label"))
      (p == 1.0 && l == "DDoS") || (p == 0.0 && l == "Normal")
    })
    val out = Files.createTempDirectory("prf_ndjson").toString + "/scored"
    graft.sink.Sinks.writeNdjson(scored.toDF(), out)
    val back = spark.read.json(out)
    assert(back.count() == rows.length)
    assert(back.columns.sorted.toSeq == Seq("Label", "ddos_votes", "flow_id", "prediction"))
    scored.unpersist(blocking = false)
    ()
  }

  test("compiled SQL matches MLlib on 2000 synthetic off-corpus vectors") {
    import spark.implicits._
    val cols = PretrainedRf.assembler.getInputCols
    val synth = sweep.cache()
    synth.createOrReplaceTempView("prf_synth")
    val compiled = spark.sql(s"""
      SELECT id, v1, ${TreeSql.predictionSql()} AS prediction
      FROM (SELECT id,
                   ${TreeSql.votesSql(PretrainedRf.rf, 0, i => s"`${cols(i)}`")} AS v0,
                   ${TreeSql.votesSql(PretrainedRf.rf, 1, i => s"`${cols(i)}`")} AS v1
            FROM prf_synth)""")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val mllib = PretrainedRf.model.transform(synth)
      .select($"id", org.apache.spark.ml.functions.vector_to_array($"rawPrediction").getItem(1), $"prediction")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(compiled.size == 2000)
    assert(compiled == mllib)
    // the sweep must route rows through many distinct leaf combinations
    // (it also carries the class diversity: the repo's model flags 0 of
    // the real corpus' 750 sf0.01 flows DDoS, but 5 of these 2000
    // vectors, and both classes bit-match)
    val distinctVotes = compiled.values.map(_._1).toSet.size
    assert(distinctVotes > 500, s"sweep too uniform: $distinctVotes distinct vote sums")
    synth.unpersist(blocking = false)
    ()
  }

  test("load refuses a missing, one-class or misassembled model and names its path") {
    import spark.implicits._
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.feature.VectorAssembler
    def refusal(path: String): String =
      intercept[IllegalArgumentException](PretrainedRf.load(path)).getMessage
    val root = Files.createTempDirectory("prf_refuse").toString
    assert(refusal(s"$root/absent").contains(s"$root/absent: not found"))
    val labelled = PretrainedRfTrainer.flows(n = 40).toDF("f", "binary_label")
      .select("f.*", "binary_label")
    // one class: TreeSql has no class-1 vote to compile
    RfDetector.pipeline(numTrees = 2).fit(labelled.where($"binary_label" === 0.0))
      .write.save(s"$root/one_class")
    assert(refusal(s"$root/one_class").contains(s"$root/one_class: forest has 1 classes"))
    // features out of order: the compiled SQL would read the wrong columns
    val rf = RfDetector.pipeline(numTrees = 2).getStages(1)
    val reversed = new VectorAssembler()
      .setInputCols(RfDetector.featureCols.reverse.toArray).setOutputCol("features")
    new Pipeline().setStages(Array(reversed, rf)).fit(labelled).write.save(s"$root/reversed")
    assert(refusal(s"$root/reversed").contains(s"$root/reversed: assembler inputs"))
  }

  test("vote margins are far above fp noise (cross-engine determinism headroom)") {
    import spark.implicits._
    val margins = PretrainedRf.score(flows)
      .select(org.apache.spark.sql.functions.abs($"ddos_votes" * 2 - 100.0).as("m"))
      .agg(org.apache.spark.sql.functions.min($"m")).as[Double].head()
    // v0 + v1 == 100 (every tree votes); |v1 - v0| = |2·v1 − 100|.
    // A tie would need votes within ~1e-13 of 50/50; the forest's
    // coarsest leaf probabilities make that structurally implausible —
    // pin a generous floor so any future near-tie is caught loudly.
    assert(margins > 1e-6, s"min |v1-v0| = $margins")
  }

  test("DetectionPipeline.scored predicts as model.transform on the sweep; null and NaN rows are dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val labelled = PretrainedRfTrainer.flows(n = 400).toDF("f", "binary_label")
      .select("f.*", "binary_label")
    val small = RfDetector.train(labelled, numTrees = 5).model
    // the sweep as completed flows, plus one row with a null feature and
    // one with a NaN feature: the assembler's handleInvalid("skip")
    // drops both, so scored must too
    val base = sweep.union(sweep.where($"id" < 2).withColumn("id", $"id" + 2000))
    val bad = PretrainedRf.assembler.getInputCols(3)
    val flows = base
      .withColumn(bad, when($"id" === 2000, lit(null).cast("double"))
        .when($"id" === 2001, lit(Double.NaN)).otherwise(col(bad)))
      .withColumn("flow_id", concat(lit("f"), $"id".cast("string"), lit("_TIMEOUT")))
      .withColumn("source_ip", lit("10.9.0.1"))
      .withColumn("destination_ip", lit("10.9.0.2"))
      .withColumn("timestamp_us", $"id")
      .cache()
    for ((name, model) <- Seq("committed" -> PretrainedRf.model, "5-tree" -> small)) {
      val got = graft.DetectionPipeline.scored(flows, model)
      assert(got.columns.toSeq ==
        Seq("flow_id", "source_ip", "destination_ip", "timestamp_us", "prediction", "Label"))
      assert(got.schema.map(_.dataType.simpleString) ==
        Seq("string", "string", "string", "bigint", "double", "string"))
      val scored = got.collect().map(r =>
        r.getString(0) -> ((r.getAs[Double]("prediction"), r.getAs[String]("Label")))).toMap
      val want = model.transform(flows)
        .select($"flow_id", $"prediction",
          when($"prediction" === 1.0, "DDoS").otherwise("Normal").as("Label"))
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getString(2)))).toMap
      assert(want.size == 2000, name)
      assert(scored == want, name)
      if (name == "committed") assert(scored.values.map(_._2).toSet == Set("DDoS", "Normal"))
    }
    flows.unpersist(blocking = false)
    ()
  }
}
