package graft.tools

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession

/** Smoke test of [[Measure]]'s scenario functions, called directly. */
class MeasureSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  private val sf = "/root/testdata/sf0.001"

  test("queries: one timing per name with a stage table; an unknown name is reported") {
    val Seq(q1, unknown) = Measure.queries(spark, sf, reps = 2, Seq("q1_agg", "no_such_query"))
    assert(q1.name == "q1_agg" && q1.walls.size == 2 && q1.walls.forall(_.isDefined))
    assert(q1.stages.nonEmpty && q1.stages.forall(_.tasks > 0))
    assert(q1.lines.head.startsWith("QB q1_agg") && q1.lines.tail.forall(_.startsWith("QB-STAGE")))
    assert(unknown.walls.isEmpty && unknown.lines == Seq("QB no_such_query UNKNOWN"))
  }

  test("queries: a gated query prints the decisions of its last pass") {
    val Seq(bpe) = Measure.queries(spark, sf, reps = 1, Seq("bpe_train"))
    // the fixture corpus is one split, so the read is spread over the 4 cores
    assert(bpe.gates.map(g => (g.gate, g.small)) ==
      Seq("catalog.spreadRead" -> true, "bpe.oneTask" -> true))
    assert(bpe.lines(1).matches("QB-GATE catalog\\.spreadRead measured=0 limit=3 -> small"),
      bpe.lines.mkString("\n"))
    assert(bpe.lines(2).matches("QB-GATE bpe\\.oneTask measured=\\d+ limit=1000000 -> small"),
      bpe.lines.mkString("\n"))
  }

  test("explain: spatial_join_tiles plans a BroadcastHashJoin; an unknown name is reported") {
    val plans = Measure.explain(spark, sf, Seq("spatial_join_tiles", "no_such_query"), nPages = 20000)
    assert(plans.map(_._1) == Seq("spatial_join_tiles", "no_such_query"))
    assert(plans.head._2.contains("BroadcastHashJoin"), plans.head._2.take(2000))
    assert(plans(1)._2 == "unknown query")
  }
}
