package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins that predicates and projections reach the parquet scan — the
  * two properties that decide whether a 100 TB read touches terabytes
  * or gigabytes. `graft.Diag plan` prints these for eyeballing; this
  * makes the two load-bearing cases part of `sbt test`.
  */
class PushdownSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  private def scanString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1's shipdate predicate is pushed to the lineitem scan") {
    val plan = scanString(Relational.q1.run(spark, dir))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\].*"),
      s"l_shipdate not pushed:\n$plan")
  }

  test("projection prunes the lineitem read schema to used columns") {
    val df = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"))
      .where(col("l_quantity") > 10)
    val plan = scanString(df)
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"),
      s"used columns missing from:\n$readSchema")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      s"unused columns not pruned:\n$readSchema")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*l_quantity[^\\]]*\\].*"),
      s"l_quantity filter not pushed:\n$plan")
  }

  test("documents text-analysis scan prunes to the text column family") {
    val df = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val readSchema = "ReadSchema: [^\\n]*".r
      .findFirstIn(scanString(df)).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("n_chars") && !readSchema.contains("source"))
  }
}
