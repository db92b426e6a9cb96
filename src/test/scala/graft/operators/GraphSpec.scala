package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Integer-exact PageRank: the exact-fixpoint law on balanced cycles, and
  * equivalence with an independent in-memory reference on a fuzzed graph
  * with dangling nodes and weighted multi-edges. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  /** Plain-Scala replay of the integer iteration — same flooring, same
    * drop-dangling rule, written against Maps instead of DataFrames. */
  private def refPageRank(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val wout = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val mass = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (u, v, w) =>
        mass(v) += r(u) * 85L * w / (100L * wout(u))
      }
      r = nodes.map(n => n -> (150000L + mass(n))).toMap
    }
    r
  }

  test("weight-1 cycle is an exact fixpoint at 1_000_000 micro-units") {
    import spark.implicits._
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 0L, 1L)).toDF("src", "dst", "w")
    val got = Graph.pageRank(edges, iters = 7).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 1000000L, 1L -> 1000000L, 2L -> 1000000L))
  }

  test("fuzzed weighted graph with dangling nodes == in-memory reference, exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    // 25 nodes, 80 random weighted edges; node 24 receives but never sends
    // (dangling — its mass leaks, the drop-dangling rule)
    val raw = (0 until 80).map { _ =>
      val u = rnd.nextInt(24).toLong // never 24 as src
      var v = rnd.nextInt(25).toLong
      while (v == u) v = rnd.nextInt(25).toLong
      (u, v, (1 + rnd.nextInt(4)).toLong)
    }
    val edges = raw.groupBy(e => (e._1, e._2)).map { case ((u, v), es) =>
      (u, v, es.map(_._3).sum)
    }.toSeq
    val got = Graph.pageRank(edges.toDF("src", "dst", "w"), iters = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = refPageRank(edges, 10)
    assert(got == want, s"engine=$got\nreference=$want")
    // hybrid contract: the forced distributed loop emits the identical map
    val (loop, gates) = Gate.scope(Map("pagerank.oneTask" -> false))(
      Graph.pageRank(edges.toDF("src", "dst", "w"), iters = 10).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(gates.map(g => (g.gate, g.small)) == Seq("pagerank.oneTask" -> false))
    assert(loop == want, s"distributed loop diverged: $loop")
    // the dangling node's rank is jump + in-mass and total mass shrinks
    assert(got(24L) > 150000L)
    assert(got.values.sum < 25L * 1000000L)
  }

  test("domainLinkGraph: deterministic, self-loop-free, weights = link multiplicity") {
    import spark.implicits._
    val docs = (0L until 300L).toDF("doc_id")
    val g = Graph.domainLinkGraph(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(g.nonEmpty)
    assert(g.keys.forall { case (s, d) => s != d })
    assert(g.keys.forall { case (s, d) => s >= 0 && s < 97 && d >= 0 && d < 97 })
    // replay one doc's links by hand: doc 5 → (5, (5*31+7)%97) and (5, (5*53+11)%97)
    val d1 = (5L * 31 + 7) % 97
    val d2 = (5L * 53 + 11) % 97
    assert(g.contains((5L, d1)) && g.contains((5L, d2)))
  }

  /** Independent in-memory HITS with the same integer max-normalization. */
  private def refHits(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
    val ns = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var a = ns.map(_ -> 1000000L).toMap
    var h = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val hm = ns.map(n => n -> edges.collect {
        case (u, v, w) if u == n => w * a(v) }.sum).toMap
      val mh = hm.values.max
      h = hm.view.mapValues(v => v * 1000000L / mh).toMap
      val am = ns.map(n => n -> edges.collect {
        case (u, v, w) if v == n => w * h(u) }.sum).toMap
      val ma = am.values.max
      a = am.view.mapValues(v => v * 1000000L / ma).toMap
    }
    ns.map(n => n -> ((h(n), a(n)))).toMap
  }

  test("hits: hub/authority structure on a planted bipartite core; fast == loop == reference") {
    import spark.implicits._
    // hub nodes 0..2 all point at authorities 10..11; stragglers 20→21
    val edges = Seq((0L, 10L, 1L), (0L, 11L, 1L), (1L, 10L, 1L), (1L, 11L, 1L),
      (2L, 10L, 1L), (20L, 21L, 1L))
    val got = Graph.hits(edges.toDF("src", "dst", "w"), iters = 6).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = refHits(edges, 6)
    assert(got == want, s"engine=$got\nreference=$want")
    // structure: 0/1 are the best hubs (max = 1e6), 10 the best authority
    // (3 in-links from top hubs); pure authorities have hub 0 and vice versa
    assert(got(0L)._1 == 1000000L && got(1L)._1 == 1000000L)
    assert(got(10L)._2 == 1000000L)
    assert(got(2L)._1 < 1000000L && got(2L)._1 > got(20L)._1,
      s"partial hub must rank between: $got")
    assert(got(10L)._1 == 0L && got(0L)._2 == 0L)

    // fuzzed graph: fast path == forced distributed loop == reference
    val rnd = new scala.util.Random(13L)
    val raw = (0 until 70).map { _ =>
      val u = rnd.nextInt(20).toLong
      var v = rnd.nextInt(20).toLong
      while (v == u) v = rnd.nextInt(20).toLong
      (u, v, (1 + rnd.nextInt(4)).toLong)
    }
    val fz = raw.groupBy(e => (e._1, e._2)).map { case ((u, v), es) =>
      (u, v, es.map(_._3).sum) }.toSeq
    def run(oneTask: Boolean) = {
      val (out, gates) = Gate.scope(Map("hits.oneTask" -> oneTask))(
        Graph.hits(fz.toDF("src", "dst", "w"), iters = 8).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap)
      assert(gates.map(g => (g.gate, g.small)) == Seq("hits.oneTask" -> oneTask))
      out
    }
    val fast = run(oneTask = true)
    val loop = run(oneTask = false)
    val ref = refHits(fz, 8)
    assert(fast == ref, s"fast path diverged from reference")
    assert(loop == ref, s"distributed loop diverged from reference")
  }
}
