package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  private val sizes = DataGen.Sizes(0.1)

  test("the same seed gives the same statements, another seed other ones") {
    assert(Statements.olapPass(7, 1) == Statements.olapPass(7, 1))
    assert(Statements.olapPass(7, 1) != Statements.olapPass(8, 1))
    assert(Statements.olapPass(7, 1) != Statements.olapPass(7, 2))
    val a = Statements.wireStatements(7, 50, sizes)
    assert(a == Statements.wireStatements(7, 50, sizes))
    assert(a != Statements.wireStatements(8, 50, sizes))
    assert(Statements.ingestInsert(new Rng(7), 0, 50) == Statements.ingestInsert(new Rng(7), 0, 50))
    assert(Statements.ingestInsert(new Rng(7), 0, 50) != Statements.ingestInsert(new Rng(8), 0, 50))
  }

  test("every pass and every wire block has the same statement mix") {
    val kinds = Statements.olapTemplates.map(_.kind).sorted
    (0 until 5).foreach(p => assert(Statements.olapPass(3, p).map(_.kind).sorted == kinds))
    val s = Statements.wireStatements(3, 200, sizes)
    assert(s.length == 200)
    s.map(_.kind).grouped(Statements.wireBlockKinds.length)
      .filter(_.length == Statements.wireBlockKinds.length)
      .foreach(b => assert(b.sorted == Statements.wireBlockKinds.sorted))
  }

  test("tail percentile: the highest rung with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(39) == 50.0)
    assert(Stats.tailPercentile(40) == 75.0)
    assert(Stats.tailPercentile(49) == 75.0)
    assert(Stats.tailPercentile(50) == 80.0)
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(199) == 90.0)
    assert(Stats.tailPercentile(200) == 95.0)
    assert(Stats.tailPercentile(1000) == 99.0)
    val xs = (1 to 40).map(_.toDouble)
    val p = Stats.tailPercentile(xs.length)
    assert(xs.count(_ > Stats.percentile(xs, p)) == 10)
    assert(Stats.percentile(xs, 50) == 20.0)
    assert(Stats.percentile(Seq(5.0), 99) == 5.0)
  }

  test("open loop: latency counts from the due time and lateness is reported") {
    val rec = new Recorder
    // two slots, 30 ms of service, an arrival every 5 ms: arrivals queue
    val due = (0 until 12).map(_ * 5.0)
    val t0 = Tracer.nowMs() + 20
    Exec.openLoop(due, 2, t0) { (_, i, at) =>
      val start = Tracer.nowMs()
      Thread.sleep(30)
      rec.record(Stmt("s", s"q$i"), s"q$i", 1, traced = false, at, start, Tracer.nowMs(),
        Right(None))
    }
    val byDue = rec.samples.sortBy(_.dueMs)
    assert(byDue.length == 12)
    byDue.zip(due).foreach { case (s, d) =>
      assert(math.abs(s.dueMs - (t0 + d)) < 1e-6)
      assert(s.startMs >= s.dueMs - 1e-6, "no statement starts before it is due")
      assert(s.latencyMs == s.endMs - s.dueMs)
      assert(s.latencyMs >= s.endMs - s.startMs)
    }
    // 6 rounds of 30 ms for 12 arrivals within 55 ms: the last ones wait
    assert(byDue.last.lateMs > 60)
    assert(byDue.head.lateMs < 20)
  }

  test("failures are counted against attempts") {
    val rec = new Recorder
    val s = Stmt("k", "SELECT 1")
    val ok = Right(Some((Seq("a"), Seq("[1]"))))
    assert(rec.record(s, s.text, 1, false, 0, 0, 1, ok))
    assert(rec.record(s, s.text, 1, false, 0, 0, 1, ok))
    assert(!rec.record(s, s.text, 1, false, 0, 0, 1, Right(Some((Seq("a"), Seq("[2]"))))),
      "a repeat that returns other rows is a failure")
    assert(!rec.record(s, "other", 1, false, 0, 0, 1, Left("boom")))
    rec.fail("wire rows differ")
    assert(rec.attempted == 4)
    assert(rec.failed == 3)
    assert(rec.samples.count(_.ok) == 2)
    assert(rec.samples.map(_.repeat) == Seq(false, true, true, false))
    assert(rec.checks(s.text).executions == 3)
  }
}
