package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Failures are counted, never fatal: an op that throws or whose check
  * fails counts as failed, and the run goes on. */
class HarnessSpec extends AnyFunSuite {
  private def harness() = new Harness(null, 1L, 1, new Tracer(null, enabled = false), "unused")

  test("a thrown op and a failed check both count as failed") {
    val h = harness()
    assert(h.op("ok")(41 + 1)(v => Check.same("answer", v, 42)).map(_._1).contains(42))
    assert(h.op("throws")(sys.error("boom"): Int)(_ => ()).isEmpty)
    // the value of an op whose check fails is still returned and timed
    assert(h.op("wrong")(7)(v => Check.same("answer", v, 42)).map(_._1).contains(7))
    h.finalCheck("end")(Check(cond = false, "invariant"))
    assert(h.attempted == 4 && h.failed == 3)
    assert(h.errors.exists(_.contains("boom")))
    assert(h.errors.exists(_.contains("answer: got 7, want 42")))
  }

  test("the measured op count follows --seconds, not the clock") {
    val h = harness()
    assert(h.opsFor(90.0) == 11)
    assert(h.opsFor(850.0, share = 0.25) == 1) // never fewer than one
    assert(new Harness(null, 1L, 10, new Tracer(null, enabled = false), "unused")
      .opsFor(90.0, share = 1.0 / 7) == 16)
  }

  test("tracing overhead pairs each op with a second run of itself") {
    val h = harness()
    val runs = Array.fill(3)(0)
    h.tracingCost("read", (0 until 3).map(i => () => runs(i) += 1))
    assert(runs.toSeq == Seq(2, 2, 2))
    assert(h.layer.keySet == Set("trace.op_p50_ms", "trace.overhead_ms"))
    assert(h.tracer.active)
  }

  test("the result line carries every metric, also after failures") {
    val h = harness()
    h.op("throws")(sys.error("boom"): Int)(_ => ())
    val m = Measured(Nil, Nil, Nil, 0.0, 0.0, 0L, 0L)
    h.setupSeconds += 1.5
    val line = Main.resultJson(h.failed == 0, h.attempted, h.failed, Main.endToEnd(h, m))
    assert(line.startsWith("""{"correct": false, "attempted": 1, "failed": 1, "metrics": {"""))
    Main.EndToEnd.foreach { case (n, u) => assert(line.contains(s""""$n": {"value": """), n) }
    assert(line.contains(""""ok_ratio": {"value": 0.0, "unit": "ratio"}"""))
  }
}
