package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants — cheap guards against a future round
  * silently breaking the t1/t2 gates.
  */
class SparkEntrySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("query names are unique and every oracle key has a query") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.distinct.size == names.size,
      names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }.toSeq)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("EVERY query has an oracle — no rows-only entries left") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      s"missing oracles: ${SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet}")
  }

  test("every oracle ends in a total ORDER BY (hash-compare determinism)") {
    for ((n, sql) <- SparkEntry.oracleSql)
      assert(sql.toUpperCase.contains("ORDER BY"), s"$n lacks ORDER BY")
  }

  test("entry (flagship smoke) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("README's advertised query count matches the catalog (docs honesty)") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), java.nio.charset.StandardCharsets.UTF_8)
    val advertised = """all (\d+), no exceptions""".r.findFirstMatchIn(readme)
      .map(_.group(1).toInt)
    assert(advertised.contains(SparkEntry.queries.size),
      s"README says ${advertised.orNull}, catalog has ${SparkEntry.queries.size}")
  }

  test("catalog covers the north-star operator families") {
    val names = SparkEntry.queries.keySet
    for (required <- Seq("q_flow_features", "q_flow_features_stream",
        "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_simhash",
        "q_dedup_ngram_jaccard", "q_dedup_embedding",
        "q_ann_cosine_topk", "q_ann_ivf",
        "q_text_langid", "q_text_quality", "q_text_tokens", "q_text_fingerprint",
        "q_text_repetition", "q_split_assign", "q_stratified_sample",
        "q_corpus_filter", "q_pii_scrub",
        "q_multimodal_decode", "q_multimodal_frames", "q_multimodal_features",
        "q_rf_train_score", "q_rf_pretrained_score",
        "q_rf_compiled_score", "q_range_join_tiers"))
      assert(names.contains(required), s"missing $required")
  }

  test("a query's oracle is built when read, not when the catalog is listed") {
    val q = Q("q_probe", (s, _) => s.range(1).toDF(), sys.error("oracle artifact missing"))
    assert(q.name == "q_probe")
    val e = intercept[RuntimeException](q.oracle)
    assert(e.getMessage == "oracle artifact missing")
  }
}
