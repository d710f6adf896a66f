package perfbench

import graft.flow.PacketRow
import graft.ingest.PacketReplay
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** What the verdict of one generated flow must say: its flow id (the
  * first packet's orientation, as the featurizer names it), the
  * timestamp of its last packet, and the frame file that carries that
  * last packet (whose release time starts the flow's verdict latency).
  */
final case class FlowTruth(flowId: String, lastTsUs: Long, lastFile: Int, attack: Boolean)

/** A replay before rendering: packets bucketed by frame file (each file
  * covers one second of event time) plus the truth of every flow.
  */
final case class Plan(files: Vector[Vector[PacketRow]], flows: Vector[FlowTruth]) {
  def packets: Long = files.iterator.map(_.size.toLong).sum

  /** Frame file `i` as the engine receives it: one contract JSON object
    * per line (the Kafka `value`), in event-time order.
    */
  def render(i: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder(files(i).size * 360)
    files(i).foreach(p => sb.append(PacketReplay.toJson(p)).append('\n'))
    sb.toString.getBytes(UTF_8)
  }

  /** Writes every frame file under `dir` as `<prefix>-NNNNN.json`; returns the paths. */
  def write(dir: Path, prefix: String): Vector[Path] = {
    Files.createDirectories(dir)
    files.indices.map { i =>
      Files.write(dir.resolve(f"$prefix-$i%05d.json"), render(i))
    }.toVector
  }
}

/** Seeded replay of the `syn_flood` workload. Same seed, same bytes.
  * Every flow has a distinct canonical key, its earliest packet travels
  * client to server (so the flow id is predictable), and it has at
  * least one packet in every file from its first to its last.
  * The last rule keeps a live flow in every micro-batch that drains
  * those files, so a session timeout can only end a flow after its
  * final packet, however long a batch takes.
  */
object Gen {
  val BaseUs: Long = 1704067200000000L // 2024-01-01T00:00:00Z
  val SliceUs: Long = 1000000L         // event time covered by one frame file

  private def quad(prefix: String, h: Int): String =
    s"$prefix.${(h >>> 16) & 255}.${(h >>> 8) & 255}.${h & 255}"

  private def pkt(ts: Long, proto: Long, len: Long, src: String, dst: String,
      sport: Long, dport: Long, syn: Long = 0, ack: Long = 0, psh: Long = 0): PacketRow = {
    val tcpLen = if (proto == 6 && len > 60) len - 60 else 0L
    val udpLen = if (proto == 17 && len > 48) len - 48 else 0L
    PacketRow(0L, ts, proto, len, src, dst, sport, dport, tcpLen, udpLen,
      0L, syn, 0L, psh, ack, 0L, 0L, 0L)
  }

  /** Collects flows; each flow's packets come in time order, first
    * packet forward.
    */
  private final class Builder(nFiles: Int) {
    val files: Array[ArrayBuffer[PacketRow]] = Array.fill(nFiles)(ArrayBuffer.empty[PacketRow])
    val flows = ArrayBuffer.empty[FlowTruth]
    def add(pkts: Seq[PacketRow], attack: Boolean): Unit = {
      val first = pkts.head
      pkts.foreach(p => files(((p.ts_us - BaseUs) / SliceUs).toInt) += p)
      val last = pkts.last
      flows += FlowTruth(
        s"${first.src_ip}:${first.src_port}-${first.dst_ip}:${first.dst_port}-${first.protocol}_TIMEOUT",
        last.ts_us, ((last.ts_us - BaseUs) / SliceUs).toInt, attack)
    }
    def plan: Plan = Plan(files.map(_.sortBy(_.ts_us).toVector).toVector, flows.toVector)
  }

  /** Spoofed-source SYN flood over a thin benign background: each attack
    * flow is one source address sending 1-3 SYNs to a victim; one flow
    * in twenty is a benign bidirectional exchange of 4-12 packets. Every
    * flow ends within a second of event time, so it spans one file or
    * two adjacent ones. Files come in blocks of `blockFiles` (a drain
    * round releases one block) and no flow crosses a block's end; keys
    * are distinct across the whole plan.
    */
  def synFlood(seed: Long, nFiles: Int, pktsPerFile: Int, blockFiles: Int = 0): Plan = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val b = new Builder(nFiles)
    val blockUs = (if (blockFiles > 0) blockFiles else nFiles) * SliceUs
    val endUs = BaseUs + nFiles * SliceUs - 1
    val meanPkts = 0.95 * 1.7 + 0.05 * 8.0
    val gapUs = (SliceUs / (pktsPerFile / meanPkts)).toLong
    val salt = r.nextInt(1 << 24)
    var t = BaseUs
    var i = 0
    while (t < endUs - SliceUs / 2) {
      val start = t + r.nextLong(gapUs)
      val blockEndUs = BaseUs + ((start - BaseUs) / blockUs + 1) * blockUs - 1
      if (start > blockEndUs - SliceUs / 2) () // no flow starts in a block's last half second
      else if (r.nextInt(20) != 0) {
        val src = quad("172", (i * 0x9E3779B1 + salt) & 0xFFFFFF)
        val dst = s"10.0.0.${1 + r.nextInt(4)}"
        val sport = 1024L + r.nextInt(64511)
        val dport = if (r.nextBoolean()) 80L else 443L
        val n = { val u = r.nextInt(10); if (u < 5) 1 else if (u < 8) 2 else 3 }
        var ts = start
        val ps = (0 until n).map { k =>
          if (k > 0) ts += 100000L + r.nextLong(350000L)
          pkt(math.min(ts, blockEndUs), 6, 40L + r.nextInt(20), src, dst, sport, dport, syn = 1)
        }
        b.add(ps, attack = true)
      } else {
        val cli = quad("192", (i * 0x9E3779B1 + salt) & 0xFFFFFF)
        val srv = s"10.1.0.${1 + r.nextInt(16)}"
        val udp = r.nextInt(4) == 0
        val proto = if (udp) 17L else 6L
        val sport = 1024L + r.nextInt(64511)
        val dport = if (udp) 53L else 443L
        val n = 4 + r.nextInt(9)
        var ts = start
        val ps = (0 until n).map { k =>
          if (k > 0) ts += 1000L + r.nextLong(80000L)
          val fwd = k == 0 || r.nextBoolean()
          val len = if (fwd) 60L + r.nextInt(400) else 60L + r.nextInt(1400)
          val (s, d, sp, dp) = if (fwd) (cli, srv, sport, dport) else (srv, cli, dport, sport)
          if (udp) pkt(math.min(ts, blockEndUs), proto, len, s, d, sp, dp)
          else pkt(math.min(ts, blockEndUs), proto, len, s, d, sp, dp,
            syn = if (k == 0) 1 else 0, ack = if (k == 0) 0 else 1, psh = if (fwd) 1 else 0)
        }
        b.add(ps, attack = false)
      }
      t += gapUs
      i += 1
    }
    b.plan
  }

  /** Labelled training flows for the detector: a separate seeded flood
    * replay, folded with the engine's own featurizer and labelled by the
    * generator's ground truth (attack or benign).
    */
  def trainingFlows(seed: Long): Seq[(graft.flow.FlowFeatures, Double)] = {
    val plan = synFlood(seed ^ 0x5EEDL, 2, 800)
    val attackById = plan.flows.map(f => f.flowId -> f.attack).toMap
    plan.files.flatten.groupBy(graft.flow.FlowKey.of).values.toSeq.map { ps =>
      val f = graft.flow.FlowFeaturizer.features(
        graft.flow.FlowFeaturizer.foldBatch(None, ps), "_TIMEOUT")
      f -> (if (attackById(f.flow_id)) 1.0 else 0.0)
    }.sortBy(_._1.flow_id)
  }
}
