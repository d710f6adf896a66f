package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark implementation plus (when SQL-expressible)
  * an equivalent ANSI-SQL oracle the driver runs in DuckDB over the same
  * parquet tables.
  *
  * Determinism contract (required for the driver's hash compare):
  *  - every query ends in a total ORDER BY (both sides);
  *  - float outputs are either ratios of deterministically-rounded sums
  *    or rounded onto a grid far coarser than fp error (see
  *    `Q.roundingPolicy` note);
  *  - aggregate/computed columns carry identical aliases on both sides.
  *
  * The oracle is built on first read, not when the catalog is listed:
  * an oracle that needs an artifact (the pretrained forest's compiled
  * SQL needs the persisted model) must fail only its own query, never
  * `SparkEntry.catalog` or `SparkEntry.queries`.
  */
final class Q(
    val name: String,
    val run: (SparkSession, String) => DataFrame,
    oracleSql: => Option[String]
) {
  lazy val oracle: Option[String] = oracleSql
}

object Q {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
      oracle: => Option[String]): Q = new Q(name, run, oracle)

  /** Rounding policy: a double output is only emitted when its exact
    * value lives on a decimal grid (e.g. sums of 2-decimal prices) and
    * we round at that grid, so the ~1e-9 fp-ordering noise between
    * Spark's partition-order summation and DuckDB's cannot cross a
    * rounding boundary. Ratios are computed from already-rounded sums
    * and exact counts, which is deterministic double arithmetic.
    */
  val roundingPolicy = "grid-rounded sums; ratios of rounded sums"
}
