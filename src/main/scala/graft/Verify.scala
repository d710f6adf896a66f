package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (local iteration only; the driver passes 2): a
    // comma-separated query-name filter — dump + oracle subset — or the
    // literal `--oracles-only`, which skips Spark execution entirely and
    // dumps EVERY oracle (feeds tools/check.py's type sweep).
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [name,name,... | --oracles-only[,name,...]]")
        sys.exit(2)
    }
    // sentinel detected per-token, so `--oracles-only,q_x` means "dump
    // only q_x's oracle, run no Spark" rather than silently treating the
    // sentinel as a (nonexistent) query name
    val oraclesOnly = only.exists(_.contains("--oracles-only"))
    val filter = only.map(_ - "--oracles-only").filter(_.nonEmpty)
    def keepQuery(name: String): Boolean =
      !oraclesOnly && filter.forall(_.contains(name))
    def keepOracle(name: String): Boolean =
      filter.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keepQuery(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the result is on disk — free the query's memory-sink table(s)
      GraftSession.dropStreamSinks(spark)
    }
    operators.StageViews.unpersistAll(spark)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // each oracle is built on its own: one that cannot be built (its
    // artifact is missing) is written as a DuckDB error() carrying the
    // reason, so the compare counts that query as failed, not absent
    val oracles = SparkEntry.catalog.filter(o => keepOracle(o.name)).flatMap { o =>
      try o.oracle.map(sql => o.name -> sql.trim)
      catch { case e: Exception =>
        System.err.println(s"[verify] ${o.name} oracle failed: ${e.getMessage}")
        val why = s"oracle not built: ${e.getMessage}".replace("'", "''")
        Some(o.name -> s"SELECT error('$why')")
      }
    }
    val json = oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
