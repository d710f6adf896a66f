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
}
