package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every catalog query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * SHARDED since r19 (r18 VERDICT task 1, the proven Sf1Probe method):
  * the catalog runs as K contiguous sorted-name groups of ≤
  * [[ShardSize]] queries, EACH in its own fresh session with its own
  * warmup, streaming warmup, and 3-query mini-canary — the r18 bench
  * channel still carried 2–4.7× swept/iso distortion (q_src_entropy
  * 4.08 s swept vs 0.86 s iso) from single-session sweep pressure that
  * min-of-two cannot kill (sustained cache/storage pressure and heap
  * growth hit both attempts). Contiguous grouping keeps operator
  * families with their shared stage views in one shard; cross-shard
  * rebuilds are itemized by the build-attribution channel. With
  * sharding, swept ≈ iso is the expected steady state; the iso channel
  * (fresh-session re-run of the [[IsoTopN]] slowest movers, min-of-two)
  * remains as the adjudicator.
  *
  * Phase 0 (r15 VERDICT task 1) runs the fixed [[canary]] basket
  * median-of-3 in shard 0's fresh session before anything else and
  * records it in every artifact: cross-round drift that shows up in
  * the canary is the MACHINE; drift that doesn't is the plans. The
  * basket and its frozen baseline are unchanged by the sharding — the
  * basket always ran in a fresh pre-pressure session, which is exactly
  * what shard 0's start still is.
  */
object Bench {

  /** Shard sizing TARGET: the shard count is ⌈catalog/ShardSize⌉ and
    * boundaries are cost-balanced ([[costBalancedShards]], r19 VERDICT
    * task 1) with a hard cap of 1.5× this many queries per shard —
    * an order of magnitude less accumulated cache/heap pressure than
    * the old full sweep, ~8 extra session bring-ups per run (wall
    * cost only, never per-query cost).
    */
  val ShardSize = 30

  /** Per-shard machine-state mini-canary (median-of-3, stage-view-free,
    * scan-agg / window / shuffle-heavy — the Sf1Probe trio): each
    * shard's numbers carry their own machine context in the full
    * record's `shards` array. Distinct from the frozen 9-query
    * [[canary]] deliberately — K shards × 9 × 3 would spend more time
    * on canaries than on measurement.
    */
  val ShardCanary: Seq[String] = Seq(
    "q1_pricing_summary", "q_sessionize", "q_weighted_median")

  /** Representative queries whose per-query seconds go on the stdout
    * metric line. The driver captures only the LAST ~2000 chars of
    * stdout — r12's 56-entry line overflowed that tail and the driver
    * recorded `parsed: null` — so this list is deliberately small
    * (~30); the FULL per-query map is always written to the file sink
    * and committed per-round as BENCH_FULL_r{N}.json.
    */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q_corpus_build", "q_dedup_exact",
    "q_dedup_minhash_lsh", "q_dedup_clusters", "q_dedup_embedding",
    "q_dedup_stream_windowed", "q_minhash_est_error",
    "q_ann_cosine_topk", "q_ann_ivf", "q_ann_lsh",
    "q_flow_features", "q_flow_features_stream",
    "q_rf_train_score", "q_rf_pretrained_score",
    "q_text_langid", "q_tfidf_top_terms", "q_text_surprisal",
    "q_rate_window_stream", "q_stream_stream_join", "q_src_entropy_stream",
    "q_top_customers", "q_market_share", "q_sessionize",
    "q_sequence_pack", "q_bucketed_join",
    "q_cidr_block_match", "q_ewma_burst",
    "q_tws_running_totals", "q_item_cooccurrence", "q_mg_heavy_hitters")

  /** How many of the slowest swept queries get a fresh-session
    * isolated re-run (phase 2). 6 → 10 (r15 VERDICT task 1): the r15
    * sweep drifted +23.6% across ~dozens of queries and a 6-deep iso
    * channel could not separate host pressure from plan regression
    * per-family; 10 matches Sf1Probe's channel depth.
    */
  val IsoTopN = 10

  /** Machine-health canary (r15 VERDICT task 1; widened r18 per the
    * r17 VERDICT task 3): a FIXED reference basket spanning the
    * catalog's plan shapes, run median-of-3 at the very START of the
    * run, in the fresh warmed session, before any sweep pressure
    * exists. The per-query canary seconds ride in every bench
    * artifact, so a cross-round comparison can NORMALIZE by the
    * canary: if r(N+1)'s canary runs 20% above rN's, a uniform +20%
    * across the sweep is the machine, not the plans — measured from
    * the artifacts alone instead of argued from iso re-runs after the
    * fact.
    *
    * r18 widening rationale (MEASUREMENT_r17: the 4-query basket,
    * dominated by one streaming floor, resolved machine state only to
    * a ±20% band and overcorrected normalized_total by 30% in one of
    * three runs): 9 queries across scan-agg, broadcast join, window,
    * shuffle-heavy string agg, typed-aggregator, native-expression
    * range match, fact+dim+window mix, and exactly ONE streaming
    * floor, so no single shape's variance dominates the ratio. Every
    * member is stage-view-FREE (no ensureCached/ensureStored touch):
    * a canary that builds a shared cache would shift that build's
    * attribution out of the sweep and break per-query cross-round
    * comparability. The basket is frozen; changing a member breaks
    * comparability and must be called out in MEASUREMENT notes.
    */
  val canary: Seq[String] = Seq(
    "q1_pricing_summary",   // scan-heavy lineitem aggregate
    "q_top_customers",      // multi-way broadcast join
    "q_sessionize",         // window functions over events
    "q_market_share",       // fact pre-agg + broadcast dim chain + bounded window
    "q_weighted_median",    // shuffle-heavy bucketed window median over lineitem
    "q_dedup_exact",        // md5 string-hash aggregate over the corpus union
    "q_mg_heavy_hitters",   // TypedImperativeAggregate over events
    "q_cidr_block_match",   // native-expression parse + broadcast range match
    "q_rate_window_stream") // streaming fixed floor (state store, micro-batches)

  /** Committed canary baseline, re-frozen r18 when the basket widened
    * (per-query MEDIANS across the three full r18 calibration runs at
    * sf0.1, local[32] — MEASUREMENT_r18.md records the freeze). Every
    * bench JSON carries `canary_ratio` = this run's basket sum / this
    * sum and `normalized_total` = total / canary_ratio, so a
    * cross-round comparison separates machine drift (canary moves with
    * the sweep) from plan drift (sweep moves, canary doesn't)
    * mechanically from the artifacts alone. Update ONLY when the
    * basket or host basis deliberately changes, with a MEASUREMENT
    * note — silently refreshing it erases the drift signal it exists
    * to carry.
    */
  val canaryBaseline: Map[String, Double] = Map(
    "q1_pricing_summary" -> 0.51,
    "q_top_customers" -> 1.07,
    "q_sessionize" -> 0.62,
    "q_market_share" -> 0.80,
    "q_weighted_median" -> 1.27,
    "q_dedup_exact" -> 0.63,
    "q_mg_heavy_hitters" -> 0.34,
    "q_cidr_block_match" -> 0.67,
    "q_rate_window_stream" -> 1.86)

  /** The newest `<prefix>_r<N>.json` in the working directory (highest
    * N wins), if any.
    */
  private def latestRoundRecord(prefix: String): Option[java.io.File] = {
    val re = (java.util.regex.Pattern.quote(prefix) + "_r(\\d+)\\.json").r
    Option(new java.io.File(".").listFiles()).toSeq.flatten
      .flatMap(f => f.getName match {
        case re(n) => Some(n.toInt -> f)
        case _ => None
      })
      .maxByOption(_._1).map(_._2)
  }

  /** Per-query cost model from the LATEST committed round record
    * (`<prefix>_r<N>.json` at the repo root, highest N wins): swept
    * seconds per query plus stage-build seconds charged to it. Used to
    * cut cost-BALANCED contiguous shards (r19 VERDICT task 1: the
    * alphabetical fixed-size cuts left SF1_r19's shard 6 at 122 s vs
    * shard 7's 49 s, re-creating intra-shard sweep pressure for
    * whichever families landed together). Absent/unparseable records
    * degrade to fixed-size grouping — never a crash.
    */
  private[graft] def latestRoundCosts(prefix: String): (String, Map[String, Double], Map[String, Double]) = {
    latestRoundRecord(prefix).map { f =>
      try {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(java.nio.file.Files.readString(f.toPath))
        val qs = scala.collection.mutable.Map.empty[String, Double]
        val qNode = root.get("queries")
        if (qNode != null && qNode.isObject) {
          val it = qNode.properties().iterator()
          while (it.hasNext) {
            val e = it.next()
            val v = e.getValue
            // BENCH_FULL records hold plain seconds; SF1 records hold
            // {"sec":..., "rows":...} objects
            if (v.isNumber) qs(e.getKey) = v.asDouble()
            else if (v.isObject && v.get("sec") != null) qs(e.getKey) = v.get("sec").asDouble()
          }
        }
        val builds = scala.collection.mutable.Map.empty[String, Double]
        val bNode = root.get("stage_builds")
        if (bNode != null && bNode.isArray) {
          val it = bNode.elements()
          while (it.hasNext) {
            val b = it.next()
            if (b.get("charged_to") != null && b.get("sec") != null) {
              val k = b.get("charged_to").asText()
              builds(k) = builds.getOrElse(k, 0.0) + b.get("sec").asDouble()
            }
          }
        }
        (f.getName, qs.toMap, builds.toMap)
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] WARN: cost record ${f.getName} unparseable (${e.getMessage}) — fixed-size shards")
          ("", Map.empty[String, Double], Map.empty[String, Double])
      }
    }.getOrElse(("", Map.empty, Map.empty))
  }

  /** Stage-affinity pairs (view → touching query) from the latest
    * committed round record, plus each view's build cost (max over its
    * stage_builds entries) so the clusterer can prioritize co-locating
    * the EXPENSIVE stages when the size cap forces a choice. Pairs come
    * from the `stage_touches` map (complete signal, r21+), falling back
    * to the build log's (view, charged_to) pairs for records that
    * predate it — those name exactly the consumers whose shard
    * placement caused rebuilds, which is the bootstrap that matters.
    * Absent/unparseable records degrade to no affinity (identity
    * order) — never a crash.
    */
  private[graft] def latestRoundTouches(prefix: String): (Seq[(String, String)], Map[String, Double]) = {
    latestRoundRecord(prefix).map { f =>
      try {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(java.nio.file.Files.readString(f.toPath))
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        val costs = scala.collection.mutable.Map.empty[String, Double]
        val bNode = root.get("stage_builds")
        if (bNode != null && bNode.isArray) {
          val it = bNode.elements()
          while (it.hasNext) {
            val b = it.next()
            if (b.get("view") != null && b.get("sec") != null) {
              val v = b.get("view").asText()
              costs(v) = math.max(costs.getOrElse(v, 0.0), b.get("sec").asDouble())
            }
          }
        }
        val tNode = root.get("stage_touches")
        if (tNode != null && tNode.isObject) {
          val it = tNode.properties().iterator()
          while (it.hasNext) {
            val e = it.next()
            val qs = e.getValue
            if (qs.isArray) {
              val qit = qs.elements()
              while (qit.hasNext) out += (e.getKey -> qit.next().asText())
            }
          }
        } else if (bNode != null && bNode.isArray) {
          val it = bNode.elements()
          while (it.hasNext) {
            val b = it.next()
            if (b.get("view") != null && b.get("charged_to") != null)
              out += (b.get("view").asText() -> b.get("charged_to").asText())
          }
        }
        (out.toVector, costs.toMap)
      } catch { case _: Exception => (Seq.empty[(String, String)], Map.empty[String, Double]) }
    }.getOrElse((Seq.empty, Map.empty))
  }

  /** Reorder the sorted catalog so queries sharing cached/stored stage
    * views are CONTIGUOUS (r21): alphabetical contiguity does NOT
    * deliver the "operator families stay with their shared stage
    * views" property the shard design assumes — BENCH_FULL_r21
    * (pre-clustering) rebuilt the same views 3–6× across shards,
    * 39.4 s of an 86.5 s stage channel (mb_* split across
    * q_basket_rules / q_item_cooccurrence / q_kcore_copurchase /
    * q_triangle_count shards; ipairs_v built in four). Union-find over
    * the affinity pairs; each cluster keeps its members in sorted
    * order and clusters are emitted in order of their first member, so
    * the permutation is deterministic and degrades to the identity
    * when no affinity data exists. Cost balancing and the hard cap run
    * over the reordered list unchanged — a cluster larger than a shard
    * is cut at the cap like any other run of queries.
    */
  private[graft] def affinityOrder[T](items: Seq[(String, T)],
      touches: Seq[(String, String)]): Seq[(String, T)] =
    affinityPlan(items, touches)._1

  /** [[affinityOrder]] plus the cluster id of every query, so the
    * shard cutter can prefer cluster boundaries (same-cluster cuts are
    * exactly the cross-shard rebuilds the ordering exists to remove).
    *
    * `maxClusterSize` bounds how many queries one cluster may hold:
    * the raw touch relation chains the ANN/retrieval/dedup families
    * into one 42-query component (q_hybrid_retrieval legitimately
    * consumes both bm25 and ann stages, …), and a cluster-sized shard
    * at sf1 re-created exactly the accumulated-cache inflation
    * sharding exists to prevent (SF1 probe: shard-0 wall 120.8 s vs
    * the 51–69 s band, co-resident q1_pricing_summary swept 8× its
    * iso). Views are therefore unioned GREEDILY IN BUILD-COST ORDER
    * (`viewCosts`, from the record's stage_builds) and a union that
    * would push a cluster past the cap is skipped — so when the cap
    * forces a choice, the cheapest spanning views are the ones that
    * rebuild (measured: only sh_v 0.52 s + sz_v 0.28 s span the split
    * of the 42-component at cap 30). With no cap and no costs this
    * degrades to plain connected components.
    */
  private[graft] def affinityPlan[T](items: Seq[(String, T)],
      touches: Seq[(String, String)],
      viewCosts: Map[String, Double] = Map.empty,
      maxClusterSize: Int = Int.MaxValue): (Seq[(String, T)], Map[String, Int]) = {
    val idx = items.map(_._1).zipWithIndex.toMap
    val parent = Array.tabulate(items.size)(identity)
    val csize = Array.fill(items.size)(1)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val byView = touches.groupBy(_._1)
    // expensive views first; name tiebreak keeps the plan deterministic
    byView.keys.toSeq.sortBy(v => (-viewCosts.getOrElse(v, 0.0), v)).foreach { v =>
      val roots = byView(v).map(_._2).distinct.sorted
        .flatMap(idx.get).map(find).distinct
      if (roots.size > 1) {
        val combined = roots.map(csize).sum
        if (combined <= maxClusterSize) {
          // union to the SMALLEST root so a cluster's root stays its
          // first member (deterministic emission order below)
          val rmin = roots.min
          roots.foreach { r => if (r != rmin) parent(r) = rmin }
          csize(rmin) = combined
        }
      }
    }
    val ordered = items.indices.groupBy(find).toSeq.sortBy(_._1)
      .flatMap(_._2.sorted).map(items).toVector
    (ordered, items.indices.map(i => items(i)._1 -> find(i)).toMap)
  }

  /** Contiguous cost-balanced shard cuts over the SORTED catalog:
    * same shard count as the fixed-size grouping (K = ⌈n/maxPerShard⌉)
    * and the same contiguity (operator families stay co-located with
    * their shared stage views, exactly as before), but boundaries fall
    * where measured cost equalizes — cut when the running shard cost
    * crosses the remaining-average. A query's modeled cost is
    * 2·swept_sec (min-of-two runs both attempts) + its charged stage
    * builds; queries absent from the record (new this round) cost the
    * known median. Hard cap 1.5·maxPerShard queries per shard bounds
    * pressure if the cost record is badly stale. Simulated on SF1_r19:
    * max/min shard cost 2.5 → 1.06.
    */
  /** @param repMult how many timed executions each query's swept
    *   seconds stand for in the cost model — 2 for Bench (min-of-two)
    *   and the probe's rep count for Sf1Probe, so query seconds and
    *   stage-build seconds are weighted on the same wall-clock scale
    *   (r20 ADVICE: reusing 2 under Reps=10 underweighted query time
    *   ~5x and skewed boundaries toward build-heavy families).
    */
  /** @param clusters stage-affinity cluster id per query name
    *   ([[affinityPlan]]): a cost cut between two queries of the SAME
    *   cluster is deferred to the next cluster boundary — a same-
    *   cluster cut is precisely a cross-shard stage rebuild — UNLESS
    *   the cluster is bigger than the hard cap (it cannot fit one
    *   shard, so deferring would only move the cut, not save the
    *   rebuild). The hard cap itself always binds: pressure isolation
    *   outranks rebuild avoidance, per its r20 rationale.
    */
  private[graft] def costBalancedShards[T](items: Seq[(String, T)],
      costs: Map[String, Double], buildCosts: Map[String, Double],
      maxPerShard: Int, repMult: Double = 2.0,
      clusters: Map[String, Int] = Map.empty): Seq[Seq[(String, T)]] = {
    if (costs.isEmpty) return items.grouped(maxPerShard).toSeq
    val known = costs.values.toSeq.sorted
    val fallback = known(known.size / 2)
    def cost(n: String): Double =
      repMult * costs.getOrElse(n, fallback) + buildCosts.getOrElse(n, 0.0)
    val k = math.max(1, math.ceil(items.size.toDouble / maxPerShard).toInt)
    val hardCap = maxPerShard + maxPerShard / 2
    val clusterSize: Map[Int, Int] =
      clusters.values.groupBy(identity).map { case (id, v) => id -> v.size }
    def cuttableBetween(prev: String, next: String): Boolean =
      (clusters.get(prev), clusters.get(next)) match {
        case (Some(a), Some(b)) if a == b => clusterSize(a) > hardCap
        case _ => true
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, T)]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[(String, T)]
    var acc = 0.0
    var remTotal = items.map(i => cost(i._1)).sum
    var remShards = k
    items.zipWithIndex.foreach { case (item, i) =>
      val c = cost(item._1)
      val target = remTotal / remShards
      // The hard cap binds even on the LAST planned shard (r20 ADVICE:
      // the old remShards > 1 guard let a stale cost record pile every
      // remaining query into the final shard unbounded, re-creating
      // exactly the accumulated cache/heap pressure the cap bounds).
      // Cutting past k shards is fine — pressure isolation is the goal,
      // the shard count is only a target.
      val capCut = cur.size >= hardCap
      // Cut BEFORE a cluster that cannot fit in this shard's remaining
      // hard-cap space (r21 ADVICE): boundary deferral only moves cost
      // cuts FORWARD, so a cluster starting mid-shard could still be
      // split by the cap even when cutting at its start would keep it
      // whole within the cap. Fires only at a cluster's first member
      // and only for clusters the cap could hold at all.
      val clusterFitCut = cur.nonEmpty && {
        (clusters.get(item._1), cur.lastOption.flatMap(p => clusters.get(p._1))) match {
          case (Some(b), prev) if !prev.contains(b) =>
            val sz = clusterSize.getOrElse(b, 1)
            sz <= hardCap && cur.size + sz > hardCap
          case _ => false
        }
      }
      val costCut = remShards > 1 && acc + c / 2 > target &&
        items.size - i >= remShards - 1 &&
        cur.lastOption.forall(p => cuttableBetween(p._1, item._1))
      if (cur.nonEmpty && (capCut || clusterFitCut || costCut)) {
        out += cur.toVector; remTotal -= acc; remShards = math.max(1, remShards - 1)
        cur = scala.collection.mutable.ArrayBuffer.empty; acc = 0.0
      }
      cur += item; acc += c
    }
    if (cur.nonEmpty) out += cur.toVector
    out.toVector
  }

  // explicit root locale: a comma-decimal default locale would render
  // the metric line as invalid JSON (r5 ADVICE)
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def fmt2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  private def newSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: session init, parquet footer reads, first codegen
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark
  }

  private def gcMsNow(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Attribute shared-stage cache materialization: each cached stage
    // view is built eagerly under a timer and charged to the query
    // whose construction triggered it, so stage-build cost can't move
    // silently between queries as catalog order changes (r8 VERDICT).
    var currentQuery = "warmup"
    operators.StageViews.enableBuildAttribution(() => currentQuery)
    val wall0 = System.nanoTime()
    val failures = scala.collection.mutable.LinkedHashSet.empty[String]
    // Returns None on failure: a broken query must neither bench
    // silently NOR report its time-to-failure as a cost — a query that
    // throws in 0.2 s would otherwise look like a performance win and
    // poison the phase-2 mover selection.
    def timeOnce(s: SparkSession, name: String, label: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      currentQuery = label
      val t0 = System.nanoTime()
      try {
        fn(s, sfDir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] FAIL $label: ${e.getClass.getSimpleName}: ${e.getMessage}")
          failures += name
          None
      }
    }
    def minOfTwo(s: SparkSession, name: String, label: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] =
      (timeOnce(s, name, label, fn), timeOnce(s, name, label, fn)) match {
        case (Some(a), Some(b)) => Some(math.min(a, b))
        case (a, b) => a.orElse(b) // one failed: keep the honest attempt, flag stays
      }
    // MEDIAN-of-3 basket run (r17 VERDICT task 3 rationale: the min
    // systematically discards the contention a canary exists to
    // measure; the median keeps one-off stalls out while tracking
    // sustained machine state). Streaming sinks are dropped between
    // attempts so the canary itself leaves no pressure. Canary crashes
    // never poison the sweep's failure flag.
    def canaryOn(s: SparkSession, names: Seq[String], label: String): Seq[(String, Double)] =
      names.flatMap { name =>
        // drop only flags THIS canary run added: under sharding, later
        // shards' mini-canaries run AFTER earlier shards' sweeps, and
        // an unconditional erase would silently clear a ShardCanary
        // member's REAL sweep failure from the artifact's failed list
        val wasFailed = failures.contains(name)
        val attempts = (1 to 3).flatMap { _ =>
          val sec = timeOnce(s, name, s"$label:$name", SparkEntry.queries(name))
          GraftSession.dropStreamSinks(s)
          sec
        }
        if (!wasFailed) failures -= name
        if (attempts.isEmpty) None
        else Some(name -> attempts.sorted.apply(attempts.size / 2))
      }
    def streamingWarmup(s: SparkSession, label: String): Unit = {
      // the first streaming query in a fresh session pays one-time
      // RocksDB/streaming-codegen/state-provider costs no steady-state
      // number should carry — once per shard now (the Bench phase-2
      // rationale, applied at every session boundary). Untimed,
      // fail-soft.
      currentQuery = label
      try SparkEntry.queries("q_rate_window_stream")(s, sfDir).count()
      catch { case _: Throwable => () }
      GraftSession.dropStreamSinks(s)
    }

    // The sharded sweep: fresh session per ≤ShardSize contiguous
    // sorted-name queries; per-query min-of-two (a one-off stall hits
    // one attempt, not both; shared-stage builds land on attempt 1 so
    // the reported number is the cached-stage cost, the same basis as
    // every prior round); per-query GC time to the file sink so
    // sustained-pressure inflation stays attributable. Phase-0's
    // 9-query frozen canary runs at the top of shard 0 — a fresh
    // pre-pressure session, the exact basis the baseline was frozen on.
    // `warm` documents the mini-canary warm-basis asymmetry (r19
    // ADVICE): a ShardCanary member swept inside its home shard ran
    // median-of-3 in this same session moments earlier, so its swept
    // number carries a warm page-cache/codegen basis the other queries
    // don't — itemized in the record instead of silently biasing it.
    case class ShardMeta(idx: Int, first: String, last: String, sec: Double,
        canary: Seq[(String, Double)], warm: Seq[String])
    val gcMs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var canarySec: Seq[(String, Double)] = Nil
    // cost-balanced contiguous cuts from the last committed round
    // record (r19 VERDICT task 1); fixed-size grouping when none exists
    val (costSrc, qCosts, bCosts) = latestRoundCosts("BENCH_FULL")
    // affinity-clustered order (r21): co-locate queries that share
    // cached/stored stage views so the stage channel stops rebuilding
    // the same relations once per consuming shard; cuts prefer cluster
    // boundaries; clusters size-capped at ShardSize so no shard is
    // forced past the balance target by a mega-component
    val (touchPairs0, viewCosts0) = latestRoundTouches("BENCH_FULL")
    val (ordered, clusterIds) = affinityPlan(
      SparkEntry.queries.toSeq.sortBy(_._1), touchPairs0, viewCosts0, ShardSize)
    val shards = costBalancedShards(ordered, qCosts, bCosts, ShardSize,
      clusters = clusterIds)
    System.err.println(s"[bench] shard plan: ${shards.size} shards, " +
      (if (costSrc.nonEmpty) s"cost-balanced from $costSrc" else "fixed-size (no prior record)"))
    // Throwaway JVM-warmup SESSION (r20 ADVICE, the proven Sf1Probe
    // fix): the JVM's FIRST SparkContext is structurally slow — the r20
    // sf1 adjudication showed discarded in-context reps do NOT repair it
    // (the 6th execution in context #1 still read 7.2 s vs 2.2 s for
    // context #2's first) — so context #1 burns representative work and
    // every MEASURED session, including shard 0's, is context #2+.
    // This moves the frozen canary basket onto a context-#2 basis
    // (documented in OPTIMIZATION_r21.md): shard 0's ~30 swept queries
    // previously carried first-context inflation no other shard paid.
    locally {
      val s = newSession(cpus)
      Tables.lineitem(s, sfDir).limit(1).collect()
      currentQuery = "jvm_warmup"
      (Seq("q_rate_window_stream") ++ ShardCanary).foreach { name =>
        try SparkEntry.queries(name)(s, sfDir).count()
        catch { case _: Throwable => () }
        GraftSession.dropStreamSinks(s)
      }
      operators.StageViews.unpersistAll(s)
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      System.err.println("[bench] jvm warmup context retired (measurement starts at context #2)")
    }
    val perShard = shards.zipWithIndex.map { case (qs, i) =>
      val s = newSession(cpus)
      Tables.lineitem(s, sfDir).limit(1).collect()
      streamingWarmup(s, s"shard${i}_warmup")
      if (i == 0) canarySec = canaryOn(s, canary, "canary")
      val shardCanary = canaryOn(s, ShardCanary, s"canary$i")
      val t0 = System.nanoTime()
      val res = qs.flatMap { case (name, fn) =>
        val g0 = gcMsNow()
        val sec = minOfTwo(s, name, name, fn)
        gcMs(name) = gcMsNow() - g0
        // free this query's memory-sink tables before the next one
        // runs: accumulated sink heap inflates every DOWNSTREAM query
        // (the uniform sweep-vs-iso signature of SF1_r14), outside the
        // timer so sweep numbers stay comparable across rounds
        GraftSession.dropStreamSinks(s)
        sec.map(name -> _)
      }
      val shardSec = (System.nanoTime() - t0) / 1e9
      // evict this shard's stage caches and retire the session: the
      // next shard starts pressure-free
      operators.StageViews.unpersistAll(s)
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      System.err.println(f"[bench] shard $i done: ${res.size}/${qs.size} queries " +
        f"in $shardSec%.1f s (${qs.head._1} .. ${qs.last._1})")
      (res, ShardMeta(i, qs.head._1, qs.last._1, shardSec, shardCanary,
        qs.map(_._1).filter(ShardCanary.contains)))
    }
    val results = perShard.flatMap(_._1)
    val shardMeta = perShard.map(_._2)
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val stageBuilds = operators.StageViews.buildLog
    val stageSec = stageBuilds.map(_.sec).sum

    // Phase 2: fresh-session isolated re-runs of the slowest movers.
    // Stage caches start empty in the new session; min-of-two again
    // puts rebuilds on attempt 1 so `iso` is comparable to `queries`.
    val byName = SparkEntry.queries
    val movers = results.sortBy(-_._2).take(IsoTopN).map(_._1)
    val spark2 = newSession(cpus)
    // Streaming warmup (r16): the FIRST streaming query in a fresh
    // session pays one-time costs the sweep's movers never see
    // in-sweep — RocksDB JNI/native load, streaming-plan codegen,
    // state-store provider init — and r15's iso channel had 3 of its 6
    // entries land ABOVE their swept numbers for exactly this reason,
    // inverting the contention signal the channel exists to measure.
    // Two untimed streaming runs (default HDFS-backed state + RocksDB
    // transformWithState) absorb those costs so iso numbers share the
    // sweep's warm basis. Untimed and fail-soft: a warmup crash must
    // not block the channel.
    currentQuery = "iso_warmup"
    Seq("q_rate_window_stream", "q_tws_running_totals").foreach { w =>
      try byName(w)(spark2, sfDir).count()
      catch { case _: Throwable => () }
      GraftSession.dropStreamSinks(spark2)
    }
    val isolated = movers.flatMap { name =>
      val s = minOfTwo(spark2, name, s"iso:$name", byName(name)).map(name -> _)
      GraftSession.dropStreamSinks(spark2)
      s
    }
    operators.StageViews.unpersistAll(spark2)
    spark2.stop()

    // Stall repair (r20 VERDICT task 1): a machine stall that hits BOTH
    // min-of-two attempts poisons the committed swept number, and the
    // record's own iso channel flags it (swept/iso >= StallRatio) without
    // the primary total being able to self-repair — BENCH_r20 carried
    // ~30 s of visible stall on five queries this way. The iso run IS
    // the bounded fresh-session retry: for flagged movers commit
    // min(swept, iso) and itemize the original as `stalled`, so every
    // committed per-query second is <= 1.5x its isolated cost or carries
    // the annotation. The `iso` array keeps the ORIGINAL swept seconds.
    val StallRatio = 1.5
    val sweptRaw = results.toMap
    val stalledRepairs = isolated.filter { case (n, iso) =>
      iso > 0 && sweptRaw(n) >= StallRatio * iso
    }
    val committedByName = sweptRaw ++ stalledRepairs.map { case (n, iso) =>
      n -> math.min(sweptRaw(n), iso)
    }
    if (stalledRepairs.nonEmpty)
      System.err.println("[bench] stall repair: " + stalledRepairs.map { case (n, iso) =>
        f"$n ${sweptRaw(n)}%.2f->${iso}%.2f" }.mkString(", "))
    val committed = results.map { case (n, _) => n -> committedByName(n) }

    val total = if (committed.nonEmpty) committed.map(_._2).sum else 0.0
    // Per-query min-of-two excludes one-time stage builds (attempt 2
    // hits the cache); stage_sec reports that excluded build cost, and
    // the file sink carries the full per-build attribution array.
    val stageJson = stageBuilds.map(b =>
      s"""{"view":"${b.view}","charged_to":"${b.chargedTo}","sec":${fmt(b.sec)}}""")
      .mkString("[", ",", "]")
    // Compact itemization for the bounded stdout line: the top stages
    // by cost as [view, charged_to, sec] triples, remainder folded into
    // stage_other_sec so the fields still sum to stage_sec.
    // 6 -> 4 (r21): the compact line gained stalled/shard_wm/n_stalled
    // and must stay under the driver's 2000-char stdout tail
    val TopStages = 4
    val topStages = stageBuilds.sortBy(-_.sec).take(TopStages)
    val stageTopJson = topStages.map(b =>
      s"""["${b.view}","${b.chargedTo}",${fmt2(b.sec)}]""").mkString("[", ",", "]")
    val stageOther = stageSec - topStages.map(_.sec).sum
    // [name, swept_sec, isolated_sec] triples — the sweep-pressure
    // delta the r12 inversions needed measured, not inferred. Carries
    // the ORIGINAL swept seconds even when the stall repair above
    // committed the iso number, so the repair is auditable in-record.
    def isoJsonN(maxN: Int): String = isolated.take(maxN).map { case (n, s) =>
      s"""["$n",${fmt2(sweptRaw(n))},${fmt2(s)}]""" }.mkString("[", ",", "]")
    // [name, original_swept_sec] pairs whose committed value came from
    // the fresh-session retry (the VERDICT-r20 `stalled` annotation).
    // The COMPACT stdout line caps the itemization at 3 entries plus a
    // count — a 10-stall worst case would push the bounded line past
    // the driver's 2000-char stdout tail and truncate the whole record
    // (run-1 measurement: 1977 chars with 3 stalls, pre-trim).
    def stalledJsonN(maxN: Int): String = stalledRepairs.take(maxN).map { case (n, _) =>
      s"""["$n",${fmt2(sweptRaw(n))}]""" }.mkString("[", ",", "]")
    // per-shard q_weighted_median mini-canary on the PARSED stdout line
    // (r20 VERDICT task 1: the driver-parsed record, not just
    // BENCH_FULL, must be able to adjudicate intra-run machine drift);
    // one decimal on the compact line, three in the full record
    def shardWmJson(full: Boolean): String = shardMeta.map { m =>
      m.canary.collectFirst { case ("q_weighted_median", s) =>
        if (full) fmt(s) else String.format(java.util.Locale.ROOT, "%.1f", Double.box(s))
      }.getOrElse("-1")
    }.mkString("[", ",", "]")
    // Complete stage-affinity signal for the next run's shard planner
    // (FULL record only): view → every catalog query that touched it
    // this run, hits included. Without this the build log would list
    // only each shard's first consumer, and a co-located family's
    // affinity edges would vanish from the very record that co-located
    // it. Canary/warmup/iso labels are not catalog names and drop out.
    val touchesJson = operators.StageViews.touchLog
      .filter { case (_, q) => SparkEntry.queries.contains(q) }
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (v, ps) =>
        s""""$v":${ps.map(_._2).distinct.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      }.mkString("{", ",", "}")
    val gcJson = gcMs.map { case (n, g) => s""""$n":$g""" }.mkString("{", ",", "}")
    val canaryJson = canarySec.map { case (n, s) => s""""$n":${fmt2(s)}""" }
      .mkString("{", ",", "}")
    // canary_ratio over the baseline INTERSECTION (a canary crash drops
    // its entry from both sums rather than skewing the ratio); -1
    // signals "no ratio" if the whole basket failed
    val canaryPairs = canarySec.filter(c => canaryBaseline.contains(c._1))
    val canaryRatio =
      if (canaryPairs.isEmpty) -1.0
      else canaryPairs.map(_._2).sum / canaryPairs.map(c => canaryBaseline(c._1)).sum
    val normalizedTotal = if (canaryRatio > 0) total / canaryRatio else -1.0
    // per-shard metadata (full record only — the stdout line is bounded):
    // boundaries, measured seconds, and each shard's own mini-canary
    val shardsJson = shardMeta.map { m =>
      val c = m.canary.map { case (n, s) => s""""$n":${fmt(s)}""" }.mkString("{", ",", "}")
      val w = m.warm.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"idx":${m.idx},"first":"${m.first}","last":"${m.last}","sec":${fmt2(m.sec)},"canary":$c,"warm_basis":$w}"""
    }.mkString("[", ",", "]")
    def jsonLine(entries: Seq[(String, Double)], full: Boolean): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + (if (full) fmt(v) else fmt2(v)) }
        .mkString("{", ",", "}")
      val builds = if (full) s""","stage_builds":$stageJson,"stage_touches":$touchesJson,"gc_ms":$gcJson,"shards":$shardsJson"""
        else s""","stage_builds":$stageTopJson,"stage_other_sec":${fmt2(stageOther)}"""
      val failed = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
      val stalledPart =
        if (full) s""""stalled":${stalledJsonN(Int.MaxValue)}"""
        else s""""stalled":${stalledJsonN(3)},"n_stalled":${stalledRepairs.size}"""
      val iso = if (full) isoJsonN(Int.MaxValue) else isoJsonN(8)
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"n_queries":${results.size},"n_failed":${failures.size},"failed":$failed,"wall_sec":${fmt(wallSec)},"stage_sec":${fmt(stageSec)},"n_shards":${shardMeta.size}$builds,"canary":$canaryJson,"canary_ratio":${fmt(canaryRatio)},"normalized_total":${fmt(normalizedTotal)},"iso":$iso,$stalledPart,"shard_wm":${shardWmJson(full)},"sf":"$sfDir"}"""
    }
    // Full per-query map → a RUN-SCOPED file sink (authoritative record;
    // never clobbers a tracked ./bench.json — r5 ADVICE/VERDICT #5).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"target/bench_${System.currentTimeMillis()}.json")
    val outPath = java.nio.file.Paths.get(out)
    Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outPath,
      (jsonLine(committed, full = true) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[bench] full per-query record: $out")
    // Compact headline subset → stdout: the driver parses a bounded tail
    // of stdout, so this line must stay well under 2000 chars.
    val line = jsonLine(headline.flatMap(h => committedByName.get(h).map(h -> _)), full = false)
    if (line.length > 1900)
      System.err.println(s"[bench] WARN stdout line ${line.length} chars — trim headline")
    println(line)
    // Hard coverage gate (r14 VERDICT task 3): the full record must
    // itemize the ENTIRE catalog — r14 shipped q_qdigest_stream
    // unbenched because it landed after the bench refresh and nothing
    // tripped. A record with ANY query missing (i.e. failed to time)
    // now exits non-zero, after both records are written so the
    // diagnosis survives.
    if (results.size != SparkEntry.queries.size) {
      System.err.println(s"[bench] GATE FAIL: timed ${results.size} of " +
        s"${SparkEntry.queries.size} catalog queries (failed: ${failures.mkString(", ")})")
      sys.exit(2)
    }
  }
}
