package graft.operators

import graft.operators.StatefulTotals.{RunningTotalsProcessor, TwsEvent, TwsTotals}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import org.scalatest.funsuite.AnyFunSuite

/** Pins what the oracle gate cannot see about `transformWithState`:
  * ValueState genuinely carries across micro-batches (the single-file
  * catalog run is one batch), and the result is independent of how rows
  * are split into batches.
  */
class TransformWithStateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def runBatches(batches: Seq[Seq[TwsEvent]], sinkName: String): Map[Long, TwsTotals] = {
    import spark.implicits._
    StatefulTotals.withRocksDb(spark) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[TwsEvent]
      val q = input.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new RunningTotalsProcessor,
          TimeMode.None(), OutputMode.Update(), Encoders.product[TwsTotals])
        .writeStream.outputMode("update")
        .format("memory").queryName(sinkName)
        .start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
      } finally q.stop()
    }
    spark.table(sinkName).as[TwsTotals].collect()
      .groupBy(_.user_id)
      // last emission per key: the largest running count wins
      .map { case (k, rows) => k -> rows.maxBy(_.n_events) }
  }

  test("ValueState carries across micro-batches; totals are split-invariant") {
    val events = Seq(
      TwsEvent(1L, 100L, 10L), TwsEvent(1L, 200L, 20L), TwsEvent(2L, 50L, 5L),
      TwsEvent(1L, 300L, 30L), TwsEvent(2L, 25L, 7L), TwsEvent(3L, 999L, 1L))
    val twoBatches = runBatches(Seq(events.take(3), events.drop(3)), s"tws2_${System.nanoTime()}")
    val oneBatch = runBatches(Seq(events), s"tws1_${System.nanoTime()}")
    assert(twoBatches == oneBatch)
    assert(twoBatches(1L) == TwsTotals(1L, 3L, 60L, 100L, 300L))
    assert(twoBatches(2L) == TwsTotals(2L, 2L, 12L, 25L, 50L))
    assert(twoBatches(3L) == TwsTotals(3L, 1L, 1L, 999L, 999L))
  }

  test("MapState counters carry across batches; top flips when overtaken") {
    import spark.implicits._
    import graft.operators.StatefulTotals.{TopTypeProcessor, TypedEvent, TopType}
    val sinkName = s"twsm_${System.nanoTime()}"
    StatefulTotals.withRocksDb(spark) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[TypedEvent]
      val q = input.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new TopTypeProcessor,
          TimeMode.None(), OutputMode.Update(), Encoders.product[TopType])
        .writeStream.outputMode("update")
        .format("memory").queryName(sinkName)
        .start()
      try {
        // batch 1: a=2, b=1 → top a; batch 2: +2 b → b=3 overtakes
        input.addData(Seq(TypedEvent(1, "a"), TypedEvent(1, "a"), TypedEvent(1, "b")))
        q.processAllAvailable()
        input.addData(Seq(TypedEvent(1, "b"), TypedEvent(1, "b")))
        q.processAllAvailable()
      } finally q.stop()
    }
    val em = spark.table(sinkName).as[TopType].collect().sortBy(_.n_total)
    assert(em.toSeq == Seq(TopType(1, "a", 2, 3), TopType(1, "b", 3, 5)))
  }

  test("second batch emits cumulative totals, not per-batch deltas") {
    import spark.implicits._
    val sinkName = s"tws_cum_${System.nanoTime()}"
    runBatches(Seq(Seq(TwsEvent(7L, 1L, 100L)), Seq(TwsEvent(7L, 2L, 100L))), sinkName)
    val emissions = spark.table(sinkName).as[TwsTotals].collect()
      .filter(_.user_id == 7L).map(_.n_events).sorted
    assert(emissions.toSeq == Seq(1L, 2L), "each batch must emit the running count")
  }

  // ======== event-time timers (SessionTimerProcessor) ========

  import graft.operators.StatefulTotals.{SessEvent, SessionOut, SessionTimerProcessor}

  private def sessEvent(user: Long, sec: Double): SessEvent = {
    val us = math.round(sec * 1e6)
    SessEvent(user, us, new java.sql.Timestamp(us / 1000))
  }

  private def runSessions(batches: Seq[Seq[SessEvent]], sinkName: String): Seq[SessionOut] = {
    import spark.implicits._
    StatefulTotals.withRocksDb(spark) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[SessEvent]
      val q = input.toDS()
        .withWatermark("event_time", "0 seconds")
        .groupByKey(_.user_id)
        .transformWithState(new SessionTimerProcessor(StatefulTotals.SessionGapUs),
          TimeMode.EventTime(), OutputMode.Append(),
          Encoders.product[SessionOut])
        .writeStream.outputMode("append")
        .format("memory").queryName(sinkName)
        .start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
      } finally q.stop()
    }
    spark.table(sinkName).as[SessionOut].collect().toSeq
      .sortBy(s => (s.user_id, s.start_us))
  }

  test("event-time timers close sessions as the watermark passes; open sessions never emit") {
    // u1 sessions at 10-20s and 200-230s; u99 is also real data (100s,
    // 300s) and doubles as the watermark pusher. Gap = 60 s.
    val b1 = Seq(sessEvent(1, 10), sessEvent(1, 20), sessEvent(99, 100))
    val b2 = Seq(sessEvent(1, 200), sessEvent(1, 230), sessEvent(99, 300))
    val split = runSessions(Seq(b1, b2), s"sess2_${System.nanoTime()}")
    val expected = Seq(
      SessionOut(1, 10000000L, 20000000L, 2),
      SessionOut(1, 200000000L, 230000000L, 2),
      SessionOut(99, 100000000L, 100000000L, 1))
    assert(split == expected, "u99@300s is still open at end-of-stream and must NOT emit")
    // batch-split invariance: same rows in one batch -> same sessions
    val whole = runSessions(Seq(b1 ++ b2), s"sess1_${System.nanoTime()}")
    assert(whole == expected)
  }

  test("interval merge is arrival-order free (late middle event bridges two sessions)") {
    // 50s and 170s are two sessions (gap 120s > 60s) until 110s arrives
    // BETWEEN them in the same batch (60s to each side, <= gap): the
    // merge must bridge into one 50-170s session whatever the order.
    val b1 = Seq(sessEvent(7, 50), sessEvent(7, 170), sessEvent(7, 110))
    val flush = Seq(sessEvent(99, 1000))
    val got = runSessions(Seq(b1, flush), s"sessm_${System.nanoTime()}")
    assert(got == Seq(SessionOut(7, 50000000L, 170000000L, 3)))
  }

  test("timer at exactly the final watermark fires (non-strict close boundary)") {
    // u5's close timer lands at 1060000 ms; the flusher puts the final
    // watermark at exactly 1060000 ms. Pins the <= firing semantics the
    // q_tws_session_timers oracle predicate relies on.
    val got = runSessions(
      Seq(Seq(sessEvent(5, 1000)), Seq(sessEvent(99, 1060))),
      s"sessb_${System.nanoTime()}")
    assert(got == Seq(SessionOut(5, 1000000000L, 1000000000L, 1)),
      "a timer with expiry == watermark must fire; if this fails, Spark's boundary changed and the oracle predicate needs '<'")
  }

  // ======== TTL eviction ========

  /** One continuously-running ProcessingTime-mode query: batch 1, wait
    * past the TTL, batch 2, polling the sink for each emission.
    *
    * `processAllAvailable`/AvailableNow CANNOT be used here: in
    * TimeMode.ProcessingTime the engine triggers micro-batches forever
    * — data or not — because that is how wall-clock timers and TTL get
    * evaluated, so "all available processed" never holds. A 500 ms
    * trigger interval keeps those empty batches to ~2/s (the default
    * 0 ms interval floods the scheduler), and the sink poll is the
    * termination condition the engine cannot provide.
    */
  private def runTtlBatches(ttl: org.apache.spark.sql.streaming.TTLConfig,
      sleepMs: Long): Seq[TwsTotals] = {
    import spark.implicits._
    val sink = s"ttl_${System.nanoTime()}"
    def awaitRows(n: Int): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (spark.table(sink).count() < n) {
        assert(System.nanoTime() < deadline, s"sink $sink never reached $n rows")
        Thread.sleep(100)
      }
    }
    StatefulTotals.withRocksDb(spark) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[TwsEvent]
      val q = input.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new RunningTotalsProcessor(ttl),
          TimeMode.ProcessingTime(), OutputMode.Update(), Encoders.product[TwsTotals])
        .writeStream.outputMode("update")
        .format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(500))
        .start()
      try {
        input.addData(Seq(TwsEvent(1L, 100L, 10L)))
        awaitRows(1)
        Thread.sleep(sleepMs)
        input.addData(Seq(TwsEvent(1L, 200L, 20L)))
        awaitRows(2)
      } finally q.stop()
    }
    spark.table(sink).as[TwsTotals].collect().toSeq.sortBy(_.last_ts_us)
  }

  test("TTL'd ValueState evicts after the TTL elapses; totals restart") {
    val ttl = org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofSeconds(2))
    assert(runTtlBatches(ttl, sleepMs = 3500) == Seq(
      TwsTotals(1L, 1L, 10L, 100L, 100L),
      TwsTotals(1L, 1L, 20L, 200L, 200L)),
      "batch-2 totals must RESTART (n=1), proving the TTL evicted the state")
  }

  test("control: without TTL the same two-batch run carries state (eviction is TTL, not batching)") {
    assert(runTtlBatches(org.apache.spark.sql.streaming.TTLConfig.NONE, sleepMs = 3500) == Seq(
      TwsTotals(1L, 1L, 10L, 100L, 100L),
      TwsTotals(1L, 2L, 30L, 100L, 200L)),
      "without a TTL the same wait must NOT reset the totals")
  }
  // ---- keep-chain debounce ----

  private def runChain(batches: Seq[Seq[StatefulTotals.ChainEvent]],
      sinkName: String): Map[(Long, String), StatefulTotals.ChainStats] = {
    import spark.implicits._
    StatefulTotals.withRocksDb(spark) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[StatefulTotals.ChainEvent]
      val q = input.toDS()
        .groupByKey(e => (e.user_id, e.event_type))
        .transformWithState(
          new StatefulTotals.ChainDebounceProcessor(60L * 1000000),
          TimeMode.None(), OutputMode.Update(),
          Encoders.product[StatefulTotals.ChainStats])
        .writeStream.outputMode("update")
        .format("memory").queryName(sinkName)
        .start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
      } finally q.stop()
    }
    spark.table(sinkName).as[StatefulTotals.ChainStats].collect()
      .groupBy(r => (r.user_id, r.event_type))
      .map { case (k, rows) => k -> rows.maxBy(_.n_events) }
  }

  test("keep-chain debounce: clock resets only on kept events (lag would differ)") {
    val sec = 1000000L
    // t=0, t=50s, t=100s: chain keeps t0 (first) and t100 (100s > 60s
    // from the KEPT t0); lag semantics would drop t100 too (50s gap to
    // the raw t50). This corpus separates the two definitions.
    val got = runChain(Seq(Seq(
      StatefulTotals.ChainEvent(1L, "view", 0L, 1L),
      StatefulTotals.ChainEvent(1L, "view", 50L * sec, 2L),
      StatefulTotals.ChainEvent(1L, "view", 100L * sec, 3L))), "chain_sem")
    assert(got((1L, "view")).n_events == 3L)
    assert(got((1L, "view")).n_kept == 2L)
  }

  test("keep-chain debounce: the chain carries across micro-batches") {
    val sec = 1000000L
    // batch 1 keeps t0; batch 2's t50s must be dropped against the
    // PRIOR batch's kept timestamp, and t130s kept against t0
    val got = runChain(Seq(
      Seq(StatefulTotals.ChainEvent(7L, "click", 0L, 1L)),
      Seq(StatefulTotals.ChainEvent(7L, "click", 50L * sec, 2L),
        StatefulTotals.ChainEvent(7L, "click", 130L * sec, 3L))), "chain_carry")
    assert(got((7L, "click")) ==
      StatefulTotals.ChainStats(7L, "click", 3L, 2L))
  }

  test("keep-chain debounce: within-batch fold is (ts, id)-ordered, not arrival-ordered") {
    val sec = 1000000L
    // rows arrive reversed; a time-ordered fold keeps t0 and t100s —
    // an arrival-ordered fold would keep t100s first and then t0 too
    // (negative gap), yielding the same count here, so pin via the
    // tighter corpus: t0, t70s, t120s reversed. Time order: keep t0,
    // keep t70s (70 > 60), drop t120s (50s after t70s). Arrival order
    // (t120s, t70s, t0) would keep t120s then drop the rest: n_kept 1.
    val got = runChain(Seq(Seq(
      StatefulTotals.ChainEvent(9L, "x", 120L * sec, 3L),
      StatefulTotals.ChainEvent(9L, "x", 70L * sec, 2L),
      StatefulTotals.ChainEvent(9L, "x", 0L, 1L))), "chain_order")
    assert(got((9L, "x")) == StatefulTotals.ChainStats(9L, "x", 3L, 2L))
  }

  private def runBucket(batches: Seq[Seq[StatefulTotals.TbEvent]],
      sinkName: String): Map[Long, StatefulTotals.TbStats] = {
    import spark.implicits._
    StatefulTotals.withRocksDb(spark) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[StatefulTotals.TbEvent]
      val q = input.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new StatefulTotals.TokenBucketProcessor,
          TimeMode.None(), OutputMode.Update(),
          Encoders.product[StatefulTotals.TbStats])
        .writeStream.outputMode("update")
        .format("memory").queryName(sinkName)
        .start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
      } finally q.stop()
    }
    spark.table(sinkName).as[StatefulTotals.TbStats].collect()
      .groupBy(_.user_id)
      .map { case (k, rows) => k -> rows.maxBy(_.n_events) }
  }

  test("token bucket: burst drains the cap, denied events do not drain, refill readmits") {
    val hourUs = 3600L * 1000000
    // cap 2: e1 allow (1 token left), e2 allow (0), e3+e4 deny (a
    // denied event must NOT consume), then after 1h refill e5 allows
    val got = runBucket(Seq(Seq(
      StatefulTotals.TbEvent(1L, 0L, 1L),
      StatefulTotals.TbEvent(1L, 1000L, 2L),
      StatefulTotals.TbEvent(1L, 2000L, 3L),
      StatefulTotals.TbEvent(1L, 3000L, 4L),
      StatefulTotals.TbEvent(1L, 3000L + hourUs, 5L))), "tb_sem")
    assert(got(1L) == StatefulTotals.TbStats(1L, 5L, 3L))
  }

  test("token bucket: refill is capped at capacity (a week away never banks >2)") {
    val weekUs = 7L * 86400L * 1000000
    // after a week the bucket holds exactly cap=2: two allows then deny
    val got = runBucket(Seq(Seq(
      StatefulTotals.TbEvent(2L, 0L, 1L),
      StatefulTotals.TbEvent(2L, weekUs, 2L),
      StatefulTotals.TbEvent(2L, weekUs + 10L, 3L),
      StatefulTotals.TbEvent(2L, weekUs + 20L, 4L))), "tb_cap")
    assert(got(2L) == StatefulTotals.TbStats(2L, 4L, 3L))
  }

  test("token bucket: balance carries across micro-batches") {
    val hourUs = 3600L * 1000000
    // batch 1 drains the bucket (2 allows); batch 2 at +30min has only
    // half a token → deny; at +90min total refill past 1 token → allow
    val got = runBucket(Seq(
      Seq(StatefulTotals.TbEvent(3L, 0L, 1L),
        StatefulTotals.TbEvent(3L, 1L, 2L)),
      Seq(StatefulTotals.TbEvent(3L, hourUs / 2, 3L),
        StatefulTotals.TbEvent(3L, hourUs / 2 + hourUs, 4L))), "tb_carry")
    assert(got(3L) == StatefulTotals.TbStats(3L, 4L, 3L))
  }

  test("chain and token-bucket states run on generated code, with no interpreted fallback") {
    // CODEGEN_ONLY turns a projection that fails to compile (a state
    // encoder's included) into an error instead of a logged fallback to
    // interpreted evaluation
    val mode = "spark.sql.codegen.factoryMode"
    val prior = spark.conf.getOption(mode)
    spark.conf.set(mode, "CODEGEN_ONLY")
    try {
      val chain = runChain(Seq(
        Seq(StatefulTotals.ChainEvent(4L, "v", 0L, 1L)),
        Seq(StatefulTotals.ChainEvent(4L, "v", 1L, 2L))), "chain_codegen")
      assert(chain((4L, "v")) == StatefulTotals.ChainStats(4L, "v", 2L, 1L))
      val bucket = runBucket(Seq(
        Seq(StatefulTotals.TbEvent(4L, 0L, 1L)),
        Seq(StatefulTotals.TbEvent(4L, 1L, 2L))), "tb_codegen")
      assert(bucket(4L) == StatefulTotals.TbStats(4L, 2L, 2L))
    } finally prior.fold(spark.conf.unset(mode))(spark.conf.set(mode, _))
  }
}
