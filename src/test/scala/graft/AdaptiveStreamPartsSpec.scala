package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the r21 input-size-adaptive streaming state-partition rule
  * (GraftSession.adaptiveStreamParts):
  *
  *   parts = max(floor, min(ceil(bytes / (8 MiB × storesPerPartition)),
  *                          defaultParallelism))
  *
  * The floor is the MEASURED local optimum (8 general, 2 for the
  * 4-store stream-stream joins — MEASUREMENT_r21's three-point curve),
  * so at local test scale the rule resolves to the incumbent constants
  * at every core count, and the count grows with the stream beyond the
  * floor×8 MiB knee. These laws pin the floor dominance (including
  * over the core cap — low-core bench bases must not move), the
  * growth region, the storesPerPartition weighting, and the
  * missing-file degrade so a path typo can never crash a catalog
  * query.
  */
class AdaptiveStreamPartsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Fresh dir holding an `events.parquet` of exactly `bytes` length
    * (sparse — getContentSummary reads the declared length, the rule's
    * input at any scale). Distinct dirs sidestep the per-path byte
    * cache, which is the production behavior under test elsewhere.
    */
  private def dirWithEvents(bytes: Long): String = {
    val d = java.nio.file.Files.createTempDirectory("adparts").toFile
    d.deleteOnExit()
    val f = new java.io.RandomAccessFile(new java.io.File(d, "events.parquet"), "rw")
    try f.setLength(bytes) finally f.close()
    d.getAbsolutePath
  }

  test("floor: local-scale input resolves to the incumbent default (8)") {
    assert(GraftSession.adaptiveStreamParts(spark, dirWithEvents(1L)) == 8)
    // sf1-scale events (~20 MiB → raw 3) still sit under the floor:
    // the committed SF1 basis is unchanged by the adaptive rule
    assert(GraftSession.adaptiveStreamParts(spark, dirWithEvents(20L << 20)) == 8)
  }

  test("floor dominates the core cap: low-core bench bases do not move") {
    // raw 13 capped to defaultParallelism 4, but the floor (8) wins —
    // a local[4] driver bench run sees exactly the pre-r21 count
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(GraftSession.adaptiveStreamParts(spark, dirWithEvents(100L << 20)) == 8)
  }

  test("growth region: beyond the floor×8 MiB knee the count tracks bytes") {
    assert(GraftSession.adaptiveStreamParts(
      spark, dirWithEvents(20L << 20), floor = 2) == 3)
  }

  test("cap: bytes-driven growth is bounded by defaultParallelism") {
    assert(GraftSession.adaptiveStreamParts(
      spark, dirWithEvents(100L << 20), floor = 2) == 4)
  }

  test("storesPerPartition weights the per-partition fixed cost") {
    // join sites (4 stores/partition, floor = MinStreamParts): 20 MiB /
    // (8 MiB × 4) = ceil(0.625) = 1 → floor-clamped 2 — the measured
    // local optimum — and still growing with the stream beyond it
    assert(GraftSession.adaptiveStreamParts(
      spark, dirWithEvents(20L << 20), storesPerPartition = 4,
      floor = GraftSession.MinStreamParts) == GraftSession.MinStreamParts)
    assert(GraftSession.adaptiveStreamParts(
      spark, dirWithEvents(100L << 20), storesPerPartition = 4,
      floor = GraftSession.MinStreamParts) == 4)
  }

  test("missing table degrades to the floor, never throws") {
    assert(GraftSession.adaptiveStreamParts(spark, "/nonexistent/dir") == 8)
    assert(GraftSession.adaptiveStreamParts(spark, "/nonexistent/dir",
      floor = GraftSession.MinStreamParts) == GraftSession.MinStreamParts)
  }
}
