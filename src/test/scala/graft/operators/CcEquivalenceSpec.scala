package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The hybrid CC contract: the single-task union-find fast path and the
  * distributed min-label/pointer-jumping loop must emit IDENTICAL
  * (node, label) sets on the same graph — label = component's min node id.
  * Each side is forced through the `cc.oneTask` gate. */
class CcEquivalenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  private def both(pairs: Seq[(Long, Long)]): (Set[(Long, Long)], Set[(Long, Long)]) = {
    import spark.implicits._
    val df = pairs.toDF("doc_a", "doc_b")
    def run(oneTask: Boolean) = {
      val (out, gates) = Gate.scope(Map("cc.oneTask" -> oneTask))(
        Dedup.connectedComponents(df).collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(gates.map(g => (g.gate, g.small)) == Seq("cc.oneTask" -> oneTask))
      out
    }
    (run(oneTask = true), run(oneTask = false))
  }

  test("chain (adversarial for propagation depth): paths agree, labels are global min") {
    val chain = (0L until 400L).map(i => (i, i + 1))
    val (fast, loop) = both(chain)
    assert(fast == loop)
    assert(fast == (0L to 400L).map(n => (n, 0L)).toSet)
  }

  test("two cliques + far pair + duplicate edges: paths agree") {
    val cliqueA = for (i <- 0L until 20L; j <- (i + 1) until 20L) yield (i, j)
    val cliqueB = for (i <- 100L until 115L; j <- (i + 1) until 115L) yield (i, j)
    val (fast, loop) = both(cliqueA ++ cliqueB ++ Seq((500L, 501L), (501L, 500L), (500L, 501L)))
    assert(fast == loop)
    assert(fast.filter(_._1 >= 100L).forall(p => p._2 == 100L || p._2 == 500L))
  }

  test("random graph: paths agree") {
    val rng = new scala.util.Random(13)
    val pairs = (0 until 3000).map(_ =>
      (rng.nextInt(800).toLong, rng.nextInt(800).toLong)).filter(p => p._1 != p._2)
    val (fast, loop) = both(pairs)
    assert(fast == loop)
  }
}
