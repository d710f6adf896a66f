package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  private def bytes(p: Plan): Seq[Seq[Byte]] = p.files.indices.map(i => p.render(i).toSeq)

  test("the same seed renders byte-identical frames; another seed does not") {
    val a = Gen.synFlood(7, 3, 500)
    assert(bytes(a) == bytes(Gen.synFlood(7, 3, 500)))
    assert(bytes(a) != bytes(Gen.synFlood(8, 3, 500)))
  }

  test("every generated flow has a distinct key and a packet in each file it spans") {
    val p = Gen.synFlood(3, 4, 2000)
    val byKey = p.files.zipWithIndex
      .flatMap { case (ps, i) => ps.map(pk => graft.flow.FlowKey.of(pk) -> i) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.sorted }
    assert(byKey.size == p.flows.size)
    assert(p.flows.map(_.flowId).distinct.size == p.flows.size)
    byKey.values.foreach(fs => assert(fs == (fs.head to fs.last)))
    assert(p.flows.count(_.attack) > p.flows.size / 2)
  }

  test("no flow crosses the end of a block, and keys stay distinct across blocks") {
    val p = Gen.synFlood(4, 6, 1500, blockFiles = 2)
    val filesOf = p.files.zipWithIndex
      .flatMap { case (ps, i) => ps.map(pk => graft.flow.FlowKey.of(pk) -> i) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
    assert(filesOf.size == p.flows.size)
    filesOf.values.foreach(fs => assert(fs.map(_ / 2).distinct.size == 1))
    assert((0 until 3).forall(b => filesOf.values.exists(_.head / 2 == b)))
  }

  test("engine CPU counts other threads' CPU time, also after they end, and not excluded ones") {
    def spin(ms: Long): Unit = { val end = System.nanoTime() + ms * 1000000L; while (System.nanoTime() < end) {} }
    val cpu = new EngineCpu
    try {
      cpu.exclude(Thread.currentThread())
      val c0 = cpu.now()
      val t = new Thread(() => spin(300))
      t.start(); t.join()
      val c1 = cpu.now()
      assert(c1 - c0 > 0.2)
      spin(300)
      assert(cpu.now() - c1 < 0.1)
      assert(cpu.at(System.currentTimeMillis() + 1000.0) >= c1)
    } finally cpu.finish()
  }

  test("the tail percentile needs ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred, 99.0).isLeft)
    assert(Stats.tail(hundred, 90.0) == Right(90.0))
    assert(Stats.tail((1 to 1000).map(_.toDouble), 99.0) == Right(990.0))
    assert(Stats.tail((1 to 27).map(_.toDouble), 62.0) == Right(17.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("the verdict check catches a dropped, a duplicated, an extra and a mistimed verdict") {
    val truth = Gen.synFlood(5, 2, 300).flows
    val exact = truth.map(t => Verdict(t.flowId, t.lastTsUs, "DDoS", 0L))
    assert(Verdicts.check(truth, exact).failed == 0)

    val dropped = Verdicts.check(truth, exact.tail)
    assert(dropped.missing == 1 && dropped.failed == 1)

    val duplicated = Verdicts.check(truth, exact :+ exact.head.copy(batch = 1L))
    assert(duplicated.duplicated == 1 && duplicated.failed == 1)

    val extra = Verdicts.check(truth,
      exact :+ Verdict("9.9.9.9:1-10.0.0.1:80-6_TIMEOUT", 0L, "Normal", 2L))
    assert(extra.extra == 1 && extra.failed == 1)

    val mistimed = Verdicts.check(truth, exact.updated(0, exact.head.copy(tsUs = exact.head.tsUs - 1)))
    assert(mistimed.wrongTs == 1 && mistimed.failed == 1)
  }

  test("backlog growth is judged on the middle and last third of releases") {
    assert(!Detect.backlogGrew(Seq.fill(21)(3.0)))
    assert(!Detect.backlogGrew((1 to 7).map(_.toDouble) ++ Seq.fill(14)(5.0)))
    assert(Detect.backlogGrew((1 to 21).map(_.toDouble)))
  }
}
