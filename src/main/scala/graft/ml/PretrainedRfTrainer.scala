package graft.ml

import graft.flow.{FlowFeaturizer, FlowFeatures, PacketRow}
import org.apache.spark.ml.classification.RandomForestClassificationModel
import java.util.SplittableRandom

/** Regenerates the committed detector model at PretrainedRf.ModelPath.
  *
  *   sbt "runMain graft.ml.PretrainedRfTrainer [outDir]"
  *
  * Training data: seeded flows labelled by the generator's own truth
  * (attack or benign), folded by the engine's featurizer
  * (FlowFeaturizer.foldBatch/features). The two classes overlap in
  * packet count, packet length, inter-arrival time, direction mix,
  * protocol, ports and flags, so the forest reaches the depth limit
  * with impure leaves — the shape TreeSql's bit-exact proof needs to
  * cover real split paths (cleanly separable classes give depth-1
  * stumps; one class gives depth-0 trees that TreeSql cannot compile).
  * The fit is RfDetector.train with the reference's parameters.
  *
  * The session (local[2]) and the input's partitioning are fixed, so
  * two runs give the same [[forestText]] on any machine. Writing to
  * another directory compares the new forest with the one at ModelPath
  * and exits 1 if they differ (the persisted files always differ in
  * stage uids and timestamps).
  */
object PretrainedRfTrainer {

  val Seed = 20240101L
  val NumFlows = 3000
  val Partitions = 4

  private val BaseUs = 1704067200000000L // 2024-01-01T00:00:00Z

  /** Log-uniform draw in [lo, hi). */
  private def logU(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.exp(math.log(lo) + r.nextDouble() * (math.log(hi) - math.log(lo)))

  private def pick[A](r: SplittableRandom, xs: A*): A = xs(r.nextInt(xs.size))

  /** One flow's packets, first packet client to server, in time order. */
  private def packets(r: SplittableRandom, i: Int, attack: Boolean): Seq[PacketRow] = {
    val tcp = r.nextDouble() < (if (attack) 0.6 else 0.7)
    val proto = if (tcp) 6L else 17L
    val cli = s"10.${(i >>> 16) & 255}.${(i >>> 8) & 255}.${i & 255}"
    val srv = s"192.168.0.${1 + r.nextInt(if (attack) 8 else 16)}"
    val sport = 1024L + r.nextInt(64511)
    val dport =
      if (attack) pick(r, 80L, 443L, 53L, 123L, 1024L + r.nextInt(64511))
      else pick(r, 80L, 443L, 53L, 22L, 8080L)
    val n = math.max(1, logU(r, if (attack) 1 else 2, if (attack) 40 else 100).toInt)
    val fwdShare = if (attack) 0.6 + 0.4 * r.nextDouble() else 0.3 + 0.6 * r.nextDouble()
    val (iatLo, iatHi) = if (attack) (50.0, 200000.0) else (1000.0, 2000000.0)
    val (fwdHi, bwdLo, bwdHi) = if (attack) (600.0, 40.0, 300.0) else (900.0, 60.0, 1500.0)
    var ts = BaseUs + i * 5000000L + r.nextInt(1000000)
    (0 until n).map { k =>
      if (k > 0) ts += logU(r, iatLo, iatHi).toLong
      val fwd = k == 0 || r.nextDouble() < fwdShare
      val len = (if (fwd) logU(r, 40, fwdHi) else logU(r, bwdLo, bwdHi)).toLong
      val (s, d, sp, dp) = if (fwd) (cli, srv, sport, dport) else (srv, cli, dport, sport)
      def flag(pAttack: Double, pBenign: Double): Long =
        if (tcp && r.nextDouble() < (if (attack) pAttack else pBenign)) 1L else 0L
      val syn = if (tcp && k == 0) 1L else flag(0.5, 0.02)
      val fin = if (k == n - 1) flag(0.1, 0.6) else 0L
      PacketRow(i.toLong * 1000 + k, ts, proto, len, s, d, sp, dp,
        if (tcp && len > 60) len - 60 else 0L, if (!tcp && len > 48) len - 48 else 0L,
        fin, syn, flag(0.15, 0.05), flag(0.2, 0.5), if (k == 0) 0L else flag(0.4, 0.9),
        flag(0.05, 0.01), 0L, 0L)
    }
  }

  /** `n` labelled flows, half attack (label 1.0), half benign (0.0). */
  def flows(seed: Long = Seed, n: Int = NumFlows): Seq[(FlowFeatures, Double)] = {
    val r = new SplittableRandom(seed)
    (0 until n).map { i =>
      val attack = i % 2 == 1
      FlowFeaturizer.features(FlowFeaturizer.foldBatch(None, packets(r, i, attack)), "_TIMEOUT") ->
        (if (attack) 1.0 else 0.0)
    }
  }

  /** The forest's `toDebugString` without its header line, the only
    * line that carries the random stage uid.
    */
  def forestText(rf: RandomForestClassificationModel): String =
    rf.toDebugString.linesIterator.drop(1).mkString("\n")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(PretrainedRf.ModelPath)
    val spark = graft.GraftSession.getOrCreate("2")
    import spark.implicits._
    val labelled = spark.sparkContext.parallelize(flows(), Partitions)
      .toDF("f", "binary_label").select("f.*", "binary_label").cache()
    val res = RfDetector.train(labelled)
    val rf = res.model.stages(1).asInstanceOf[RandomForestClassificationModel]
    val depths = rf.trees.map(_.depth)
    println(s"trees=${rf.getNumTrees} depth ${depths.min}-${depths.max} " +
      s"nodes=${rf.totalNumNodes} held-out metrics ${res.metrics}")
    res.confusion.show()
    val committed = new java.io.File(PretrainedRf.ModelPath, "metadata")
    if (out != PretrainedRf.ModelPath && committed.exists()) {
      val same = forestText(PretrainedRf.rf) == forestText(rf)
      println(s"same forest as ${PretrainedRf.ModelPath}: $same")
      if (!same) sys.exit(1)
    }
    res.model.write.overwrite().save(out)
    println(s"saved to $out")
    spark.stop()
  }
}
