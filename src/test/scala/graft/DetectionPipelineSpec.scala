package graft

import graft.flow.PacketRow
import graft.ingest.PacketReplay
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end: JSON packet stream → decode → featurize → timeout →
  * RF score → JSON sink files, mirroring the reference's deployment
  * (spark-submit main.py) without a Kafka broker.
  */
class DetectionPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The non-empty part files of committed sink batches. The sink
    * (Sinks.writeNdjsonNonEmpty) writes an empty trigger as a zero-byte
    * part file and then deletes that batch's directory, so a part file
    * counts only once its directory holds `_SUCCESS` and it has bytes.
    */
  private def verdictFiles(outDir: String): Array[java.io.File] =
    Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(b => new java.io.File(b, "_SUCCESS").exists())
      .flatMap(b => Option(b.listFiles()).getOrElse(Array.empty))
      .filter(f => f.getName.endsWith(".json") && f.length() > 0)

  test("raw JSON stream to labeled flow files") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // train a small model on driver-table flows
    val flows = ml.RfDetector.withLabel(
      flow.BatchFlowFeaturizer.fromEvents(Tables.events(spark, "/root/testdata/sf0.001")))
      .cache()
    val model = ml.RfDetector.train(flows, numTrees = 5).model

    val outDir = Files.createTempDirectory("pipe_out").toString
    val ckpt = Files.createTempDirectory("pipe_ckpt").toString
    val input = MemoryStream[String]
    val q = DetectionPipeline.start(
      input.toDS().toDF("value"), model, outDir, ckpt,
      timeoutMs = 500, triggerInterval = "250 milliseconds")
    try {
      val burst = (0 until 30).map { i =>
        PacketReplay.toJson(PacketRow(i.toLong, 1000000L * i, 6, 100 + i,
          "10.0.0.1", "10.0.0.2", 1111, 80, 40 + i, 0,
          0, if (i == 0) 1 else 0, 0, i % 2, 1, 0, 0, 0))
      }
      input.addData(burst: _*)
      // wait for the session timeout to flush the flow through the sink
      val deadline = System.currentTimeMillis() + 60000
      def files() = verdictFiles(outDir)
      while (files().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
      val jsonFiles = files()
      assert(jsonFiles.nonEmpty, "no sink output within 60s")
      val out = spark.read.json(jsonFiles.map(_.getAbsolutePath): _*)
      val rows = out.collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[String]("flow_id") == "10.0.0.1:1111-10.0.0.2:80-6_TIMEOUT")
      assert(Set("DDoS", "Normal")(r.getAs[String]("Label")))
      assert(r.getAs[String]("source_ip") == "10.0.0.1")
    } finally q.stop()
  }

  test("streaming scoring with the reference's PRETRAINED model (main.py:1065-1090 parity)") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the exact deployment shape: load the persisted pipeline (the repo's
    // model at PretrainedRf.ModelPath) once on the driver, score the
    // completed-flow stream statelessly with it
    val model = ml.PretrainedRf.model
    val outDir = Files.createTempDirectory("pipe_pre_out").toString
    val ckpt = Files.createTempDirectory("pipe_pre_ckpt").toString
    val input = MemoryStream[String]
    val q = DetectionPipeline.start(
      input.toDS().toDF("value"), model, outDir, ckpt,
      timeoutMs = 500, triggerInterval = "250 milliseconds")
    try {
      val burst = (0 until 12).map { i =>
        PacketReplay.toJson(PacketRow(i.toLong, 500000L * i, 17, 60 + i,
          "10.1.0.1", "10.1.0.2", 5353, 53, 0, 12 + i,
          0, 0, 0, 0, 0, 0, 0, 0))
      }
      input.addData(burst: _*)
      val deadline = System.currentTimeMillis() + 60000
      def files() = verdictFiles(outDir)
      while (files().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
      assert(files().nonEmpty, "no sink output within 60s")
      val rows = spark.read.json(files().map(_.getAbsolutePath): _*).collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[String]("flow_id") == "10.1.0.1:5353-10.1.0.2:53-17_TIMEOUT")
      // pretrained scoring must agree with the batch path on the same flow
      val batchFlows = flow.FlowFeaturizer.features(
        flow.FlowFeaturizer.foldBatch(None, (0 until 12).map { i =>
          PacketRow(i.toLong, 500000L * i, 17, 60 + i,
            "10.1.0.1", "10.1.0.2", 5353, 53, 0, 12 + i,
            0, 0, 0, 0, 0, 0, 0, 0)
        }), "_TIMEOUT")
      val batchScored = ml.PretrainedRf.score(Seq(batchFlows).toDS().toDF()).collect().head
      assert(r.getAs[String]("Label") == batchScored.getAs[String]("Label"))
    } finally q.stop()
  }

  test("start refuses a model it cannot score before any query starts, naming its stages") {
    import spark.implicits._
    import org.apache.spark.ml.{Pipeline, PipelineStage}
    import org.apache.spark.ml.linalg.Vectors
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (va, rf) = (ml.PretrainedRf.assembler, ml.PretrainedRf.rf)
    val feats = spark.range(1).selectExpr(ml.RfDetector.featureCols.map(c => s"0D AS $c"): _*)
    val vectors = Seq(Tuple1(Vectors.dense(0.0))).toDF("features")
    val strict = va.copy(org.apache.spark.ml.param.ParamMap.empty).setHandleInvalid("error")
    val alien = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("no_such_col")).setOutputCol("features").setHandleInvalid("skip")
    val expected = "expected [VectorAssembler, ProbabilisticClassificationModel over Vector]"
    for ((stages, data, why) <- Seq(
        (Seq(va), feats, s"with stages [VectorAssembler]: $expected"),
        (Seq(rf), vectors, s"with stages [RandomForestClassificationModel]: $expected"),
        (Seq(strict, rf), feats,
          "with stages [VectorAssembler, RandomForestClassificationModel]: assembler handleInvalid is error"),
        (Seq(alien, rf), spark.range(1).selectExpr("0D AS no_such_col"),
          "scorer input column `no_such_col` is missing"))) {
      val model = new Pipeline().setStages(stages.toArray[PipelineStage]).fit(data)
      val ckpt = Files.createTempDirectory("pipe_refuse_ckpt")
      val e = intercept[IllegalArgumentException](DetectionPipeline.start(
        MemoryStream[String].toDS().toDF("value"), model,
        Files.createTempDirectory("pipe_refuse_out").toString, ckpt.toString))
      assert(e.getMessage.contains(why), e.getMessage)
      assert(spark.streams.active.isEmpty)
      assert(Option(ckpt.toFile.list()).forall(_.isEmpty), "the query wrote its checkpoint")
    }
  }

  test("scoring one model over several batches uses one scorer and one broadcast") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val model = ml.PretrainedRf.model
    val scorer = ml.ForestScorer.of(model, spark)
    val udfs = (0 until 3).flatMap { i =>
      val flows = Seq(flow.FlowFeaturizer.features(
        flow.FlowFeaturizer.foldBatch(None, (0 until 4).map { k =>
          PacketRow(k.toLong, 1000L * k, 6, 60 + i, "10.2.0.1", "10.2.0.2", 2000 + i, 80,
            0, 0, 0, 1, 0, 0, 0, 0, 0, 0)
        }), "_TIMEOUT")).toDS().toDF()
      val batch = DetectionPipeline.scored(flows, model)
      assert(batch.collect().length == 1)
      batch.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u.function }))
    }
    // prediction and Label read the same UDF in each of the 3 batches
    assert(udfs.size == 6)
    assert(udfs.forall(_ eq udfs.head), "a batch built its own predict UDF")
    // the scorer, and with it the one broadcast of the forest, is reused
    assert(ml.ForestScorer.of(model, spark) eq scorer)
  }
}
