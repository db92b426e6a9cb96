package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The size gate's rule, forcing and recording, without Spark. */
class GateSpec extends AnyFunSuite {

  test("rule: measured == limit takes the small side, one above takes the large side") {
    assert(Gate("g", 10L)(10L))
    assert(!Gate("g", 10L)(11L))
    assert(Gate("g", 4.0)(4.0) && !Gate("g", 4.0)(4.000001))
    val (_, gates) = Gate.scope() { Gate("a", 10L)(10L); Gate("b", 10L)(11L) }
    assert(gates == Seq(Gate.Decision("a", Some(10.0), 10.0, small = true),
      Gate.Decision("b", Some(11.0), 10.0, small = false)))
  }

  test("forcing picks the side and skips the measurement") {
    var measured = 0
    def probe(): Long = { measured += 1; 5L }
    val (sides, gates) = Gate.scope(Map("big" -> false, "tiny" -> true)) {
      (Gate("big", 10L)(probe()), Gate("tiny", 1L)(probe()), Gate("free", 10L)(probe()))
    }
    assert(sides == ((false, true, true)))
    assert(measured == 1, "only the unforced gate may measure")
    assert(gates.map(g => (g.gate, g.measured, g.small)) ==
      Seq(("big", None, false), ("tiny", None, true), ("free", Some(5.0), true)))
  }

  test("a forced gate that is never consulted fails the scope") {
    val e = intercept[IllegalArgumentException](
      Gate.scope(Map("cc.oneTsk" -> false))(Gate("cc.oneTask", 1L)(0L)))
    assert(e.getMessage.contains("cc.oneTsk"))
  }

  test("outside a scope nothing is recorded, and a scope records only its own body") {
    var measured = 0
    assert(Gate("g", 1L) { measured += 1; 0L })
    assert(measured == 1)
    val (_, outer) = Gate.scope() {
      Gate("before", 1L)(0L)
      val (_, inner) = Gate.scope(Map("inner" -> false))(Gate("inner", 1L)(0L))
      assert(inner.map(_.gate) == Seq("inner"))
      Gate("after", 1L)(2L)
    }
    assert(outer.map(g => (g.gate, g.small)) == Seq("before" -> true, "after" -> false))
  }
}
