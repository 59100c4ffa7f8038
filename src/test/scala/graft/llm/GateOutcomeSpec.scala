package graft.llm

import org.scalatest.funsuite.AnyFunSuite

/** [[ScaleRehearsal.gateOutcome]] — the rule that turns a section's
  * failed gates and the saturation probe's long/short per-row cpu
  * ratios into pass, advisory (exit 3) or hard failure. The advisory
  * and error cases are the outcomes the probe drill recorded in
  * PLANS.md ("Gate-arbitration drill"). */
class GateOutcomeSpec extends AnyFunSuite {
  import ScaleRehearsal.{GateOutcome, gateOutcome}

  private val failed = Seq("a gate failed")
  private def noProbe: Seq[Double] = fail("the probe must not run")

  test("no failed gate passes without running the probe") {
    assert(gateOutcome(Nil, lenient = false, noProbe) === GateOutcome.Pass)
  }

  test("lenient mode passes failed gates without running the probe") {
    assert(gateOutcome(failed, lenient = true, noProbe) === GateOutcome.Pass)
  }

  test("a superlinear probe pair downgrades failed gates to an advisory") {
    assert(gateOutcome(failed, lenient = false, Seq(1.0, 2.0)) ===
      GateOutcome.Advisory)
  }

  test("flat probe pairs make failed gates a hard error") {
    assert(gateOutcome(failed, lenient = false, Seq(1.0, 1.0)) ===
      GateOutcome.Fail)
    // the bar is strict: a ratio of exactly 1.5 still reads flat
    assert(gateOutcome(failed, lenient = false, Seq(1.5, 0.7)) ===
      GateOutcome.Fail)
  }
}
