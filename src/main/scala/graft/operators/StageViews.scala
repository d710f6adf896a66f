package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Once-per-(session, key) registry for temp views and cached stage
  * relations.
  *
  * Two Spark 4.1 behaviors make this necessary (both verified
  * empirically in this repo):
  *
  *  1. `createOrReplaceTempView` invalidates every cache whose plan is
  *     dependent on the replaced view — so re-registering `documents`
  *     at the start of each catalog query silently dropped the shared
  *     shingle/bigram caches between queries.
  *  2. Cache substitution (CacheManager.useCachedData) does not reach
  *     inside WITH-CTE queries: a cached view referenced from a CTE
  *     body plans as a fresh FileScan pipeline, not an
  *     InMemoryTableScan. Hot Spark-side queries therefore avoid
  *     top-level CTEs entirely and read these views from nested
  *     subqueries instead (the DuckDB oracle keeps the WITH spelling
  *     of the same computation).
  *
  * Lifecycle: sessions are weak keys (a GC'd session can never alias a
  * later one), registration is atomic per session (no double-build
  * under concurrent catalog queries), a relation superseded by a new
  * corpus key is unpersisted before its replacement is cached, and
  * [[unpersistAll]] evicts everything at end of run (Bench/Verify call
  * it) so one long session cannot accumulate stage caches across
  * corpora.
  *
  * At 100 TB the same structure holds: the "cache" becomes a persisted
  * intermediate table (memory-and-disk here, DFS there); shared
  * candidate-generation stages are materialized once, every downstream
  * pass reads the materialization, and the eviction point is the
  * retention policy on the intermediate table.
  */
private[graft] object StageViews {

  private final case class Entry(key: String, df: DataFrame, cached: Boolean,
      storePath: Option[String] = None)

  /** Best-effort recursive delete of a superseded parquet store dir —
    * without it, target/stageviews grows one orphaned directory per
    * superseded (name, key) forever (r17 ADVICE). Failures are ignored:
    * a leaked dir is the pre-fix status quo, never worth failing a
    * query over.
    */
  private def deleteStore(path: String): Unit =
    try {
      val root = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(root)
        try walk.iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
    } catch { case _: java.io.IOException => () }

  /** One materialized cached-stage build: which view, how long the
    * materializing count took, and which catalog query triggered it.
    * `sec` is EXCLUSIVE of nested stage builds: when view A's builder
    * triggers view B's materialization (cc_comp_v → dpairs_v), B's cost
    * appears only on B's line, so the per-view seconds sum to real wall
    * time instead of double-counting shared parents (r9: the "15 s
    * cc_comp_v" was ~13 s of nested dpairs_v plus ~2.5 s of CC work).
    */
  final case class Build(view: String, chargedTo: String, sec: Double)

  // Opt-in build attribution (Bench/Sf1Probe): when set, every
  // ensureCached registration eagerly materializes the relation with a
  // timed count() and records who paid for it. Default OFF so
  // explain-only consumers (PlanHygieneSpec) keep the lazy
  // no-execution semantics.
  @volatile private var attributionLabel: Option[() => String] = None
  private val builds = mutable.ArrayBuffer.empty[Build]

  /** Enable eager, attributed stage materialization. `currentLabel` is
    * polled at build time (Bench points it at the query being timed).
    */
  def enableBuildAttribution(currentLabel: () => String): Unit = {
    builds.synchronized(builds.clear())
    touches.synchronized(touches.clear())
    attributionLabel = Some(currentLabel)
  }

  /** Builds recorded since [[enableBuildAttribution]], in build order. */
  def buildLog: Seq[Build] = builds.synchronized(builds.toVector)

  // (view, query) touch pairs for every attributed ensureCached /
  // ensureStored / ensureSideEffect call — HITS included, plain lazy
  // `ensure` excluded (documents/embeddings cost nothing to re-register
  // and would union half the catalog into one cluster). This is the
  // stage-AFFINITY signal Bench's shard planner clusters on (r21): the
  // build log alone lists only the FIRST consumer per shard, so once a
  // family is co-located its affinity edges would vanish from the next
  // record and a later re-plan would scatter it again.
  private val touches = mutable.LinkedHashSet.empty[(String, String)]

  /** (view, touching query) pairs since [[enableBuildAttribution]]. */
  def touchLog: Seq[(String, String)] = touches.synchronized(touches.toVector)

  private def recordTouch(name: String): Unit =
    attributionLabel.foreach(l => touches.synchronized(touches += (name -> l())))

  /** Back to lazy, unattributed registration (spec teardown). */
  def disableBuildAttribution(): Unit = attributionLabel = None

  private val sessions =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, Entry]]()

  private def registry(spark: SparkSession): mutable.Map[String, Entry] =
    sessions.synchronized {
      var m = sessions.get(spark)
      if (m == null) { m = mutable.Map.empty; sessions.put(spark, m) }
      m
    }

  // Wall seconds consumed by nested attributed builds inside the
  // current build's dynamic extent (bench runs are single-threaded; a
  // ThreadLocal keeps concurrent test sessions from cross-charging).
  private val nestedSec = new ThreadLocal[java.lang.Double] {
    override def initialValue: java.lang.Double = 0.0
  }

  private def ensure0(spark: SparkSession, name: String, key: String, cache: Boolean)(
      build: => DataFrame): DataFrame = {
    if (cache) recordTouch(name)
    val reg = registry(spark)
    reg.synchronized {
      reg.get(name) match {
        case Some(e) if e.key == key => () // already registered for this corpus
        case prior =>
          prior.filter(_.cached).foreach(_.df.unpersist(blocking = false))
          prior.flatMap(_.storePath).foreach(deleteStore)
          // Timed from BEFORE `build`: most stage views are lazy SQL
          // (build is plan-only, the count below is the whole cost),
          // but iterative builds (cc_comp_v's CC solve) do their work
          // inside `build` itself — timing only the count would
          // undercount exactly the views whose builds are heaviest.
          val attributing = attributionLabel.isDefined
          val saved: Double = if (attributing) {
            val s = nestedSec.get(); nestedSec.set(0.0); s
          } else 0.0
          val t0 = System.nanoTime()
          val df = build
          if (cache) df.cache()
          df.createOrReplaceTempView(name)
          reg(name) = Entry(key, df, cache)
          // Attributed eager materialization: without this, the build
          // cost lands silently inside whichever query FIRST scans the
          // view — bench numbers then move between queries when catalog
          // order changes (r8: q_doc_containment vs q_corpus_build).
          attributionLabel match {
            case Some(label) if cache =>
              df.count()
              val raw = (System.nanoTime() - t0) / 1e9
              // Children already logged their own lines; report only
              // this view's exclusive cost, and hand the full span up
              // so a grandparent excludes it too.
              val b = Build(name, label(), raw - nestedSec.get())
              builds.synchronized(builds += b)
              System.err.println(
                f"[stageviews] built ${b.view} in ${b.sec}%.2fs (charged to ${b.chargedTo})")
              nestedSec.set(saved + raw)
            case Some(_) => // uncached ensure: pass nested spans through
              nestedSec.set(saved + nestedSec.get())
            case None => ()
          }
      }
    }
    spark.table(name)
  }

  /** Register `name` from `build` unless this session already holds it
    * for the same key. Returns the (possibly pre-existing) view.
    */
  def ensure(spark: SparkSession, name: String, key: String)(build: => DataFrame): DataFrame =
    ensure0(spark, name, key, cache = false)(build)

  /** ensure + mark the relation for in-memory caching (materialized on
    * first use, reused by every later catalog query in the session).
    */
  def ensureCached(spark: SparkSession, name: String, key: String)(build: => DataFrame): DataFrame =
    ensure0(spark, name, key, cache = true)(build)

  /** ensure + materialize the relation to LOCAL PARQUET once and
    * register the view over the read-back — for expensive,
    * multi-consumer stage relations whose in-memory cache residency
    * was at the mercy of sweep pressure (r16 VERDICT #3: mb_* and
    * ipairs_v were LRU-evicted mid-sweep by later queries' caches,
    * making q_kcore_copurchase/q_triangle_count swept 2-2.5x their
    * iso cost). A stored view cannot be evicted: every downstream
    * read is a local columnar scan with pushdown/pruning, and the
    * unified-memory budget is freed for the caches that stay. This is
    * literally the 100 TB shape (persisted intermediate table on DFS)
    * run at local scale. The write is timed and attributed like a
    * cached-stage materialization; a new corpus key re-writes.
    */
  def ensureStored(spark: SparkSession, name: String, key: String)(
      build: => DataFrame): DataFrame = {
    recordTouch(name)
    val reg = registry(spark)
    val hit = reg.synchronized(reg.get(name).exists(_.key == key))
    if (!hit) {
      val attributing = attributionLabel.isDefined
      val saved: Double = if (attributing) {
        val s = nestedSec.get(); nestedSec.set(0.0); s
      } else 0.0
      val t0 = System.nanoTime()
      // The parquet write runs OUTSIDE the registry lock — it is the
      // longest job this object ever schedules, and holding the lock
      // across it would block every other ensure* in the session for
      // the duration (r17 ADVICE). Each attempt writes to its OWN
      // uniquified dir (session + key + nanos), so two racing builders
      // can never interleave writes into one store; the double-checked
      // insert below picks a winner and the loser's store is deleted.
      val path = java.nio.file.Paths.get("target", "stageviews",
        name + "_" + Integer.toHexString(System.identityHashCode(spark)) +
          "_" + Integer.toHexString(key.hashCode) +
          "_" + java.lang.Long.toHexString(System.nanoTime())).toString
      build.write.mode("overwrite").parquet(path)
      val df = spark.read.parquet(path)
      val (won, supersededStore) = reg.synchronized {
        reg.get(name) match {
          case Some(e) if e.key == key => (false, None) // racing builder won
          case prior =>
            prior.filter(_.cached).foreach(_.df.unpersist(blocking = false))
            df.createOrReplaceTempView(name)
            reg(name) = Entry(key, df, cached = false, storePath = Some(path))
            (true, prior.flatMap(_.storePath))
        }
      }
      // superseded (or losing) stores are unreachable from the registry
      // and would otherwise accumulate under target/stageviews forever
      if (won) supersededStore.foreach(deleteStore) else deleteStore(path)
      if (attributing) {
        val raw = (System.nanoTime() - t0) / 1e9
        val b = Build(name, attributionLabel.get.apply(), raw - nestedSec.get())
        builds.synchronized(builds += b)
        System.err.println(
          f"[stageviews] stored ${b.view} in ${b.sec}%.2fs (charged to ${b.chargedTo})")
        nestedSec.set(saved + raw)
      }
    }
    spark.table(name)
  }

  /** Run `work` once per (session, name, key) — for stages whose
    * product is a SIDE EFFECT (bucketed table writes, index layouts)
    * rather than a cacheable relation. The work is timed and recorded
    * in the build log like a cached-stage materialization, so bench
    * itemizes the pay-once layout cost instead of charging it to
    * whichever query's attempt happened to run it (q_bucketed_join's
    * 9.5 s sf1 was ~all table-write; the join it exists to measure is
    * sub-second). Repeat calls with the same key are no-ops; a new
    * corpus key re-runs the work.
    */
  def ensureSideEffect(spark: SparkSession, name: String, key: String)(work: => Unit): Unit = {
    recordTouch(name)
    val reg = registry(spark)
    reg.synchronized {
      reg.get(name) match {
        case Some(e) if e.key == key => ()
        case _ =>
          val t0 = System.nanoTime()
          work
          reg(name) = Entry(key, spark.emptyDataFrame, cached = false)
          attributionLabel.foreach { label =>
            val b = Build(name, label(), (System.nanoTime() - t0) / 1e9)
            builds.synchronized(builds += b)
            System.err.println(
              f"[stageviews] built ${b.view} in ${b.sec}%.2fs (charged to ${b.chargedTo})")
          }
      }
    }
  }

  /** Evict every stage relation registered for `spark`, logging the
    * storage the cached ones held. Called at end of a catalog run; a
    * later query transparently rebuilds what it needs.
    */
  def unpersistAll(spark: SparkSession): Unit = {
    val reg = registry(spark)
    reg.synchronized {
      if (reg.nonEmpty) {
        val cachedNames = reg.collect { case (n, e) if e.cached => n }.toSeq.sorted
        val held = scala.util.Try(
          spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        ).getOrElse(-1L)
        System.err.println(
          s"[stageviews] evicting ${reg.size} stage views " +
            s"(${cachedNames.size} cached: ${cachedNames.mkString(", ")}; " +
            s"storage held ≈ ${held / (1 << 20)} MiB)")
        reg.values.filter(_.cached).foreach(_.df.unpersist(blocking = false))
        // stored tiers are disk, not block-manager storage: reclaim
        // their parquet dirs too (unpersist alone cannot — r17 ADVICE).
        // A later ensureStored for the same (name, key) rebuilds into a
        // fresh uniquified dir, so deletion here can't race a rebuild.
        reg.values.flatMap(_.storePath).foreach(deleteStore)
        reg.clear()
      }
    }
  }

  /** Widen a narrow scan to the session's shuffle parallelism before
    * CPU-heavy per-row work (shingle/token/bigram explodes, cosine
    * loops). A small corpus parquet arrives as ONE split, serializing
    * everything downstream on a single task (measured: the sf0.1
    * shingle build ran 1-task while 31 cores idled). The hash exchange
    * is one narrow pass over the corpus and also rebalances skewed
    * document lengths — on a cluster where the scan already has more
    * splits than this, it still bounds per-task skew, which is what
    * you want in front of an explode whose fan-out is data-dependent.
    */
  def widen(spark: SparkSession, df: DataFrame, byCol: String): DataFrame =
    df.repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, df(byCol))

  def documents(spark: SparkSession, dir: String): DataFrame =
    ensure(spark, "documents", dir)(widen(spark, Tables.documents(spark, dir), "doc_id"))

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    ensure(spark, "embeddings", dir)(widen(spark, Tables.embeddings(spark, dir), "vec_id"))
}
