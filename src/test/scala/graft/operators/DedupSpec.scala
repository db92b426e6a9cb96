package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Planted-duplicate recall: exact copies and near-copies must be found by
  * every dedup method; degenerate inputs must not crash. */
class DedupSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkTestSession.get

  // the operators persist their intermediates for the lazy result's
  // lifetime; the caller releases them after its action
  override def afterEach(): Unit =
    try spark.catalog.clearCache() finally super.afterEach()

  private def docsWithDups = {
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 50)
    val dups = base.where(col("doc_id") < 10)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    // near-duplicate: doc 3's text with one extra token appended
    val near = base.where(col("doc_id") === 3)
      .select(lit(20000L).as("doc_id"), concat(col("text"), lit(" extra")).as("text"))
    base.unionByName(dups).unionByName(near)
  }

  test("exact dedup groups planted copies under the original keeper") {
    val out = Dedup.exact(docsWithDups).where(col("n_copies") >= 2).collect()
    assert(out.length == 10)
    assert(out.forall(_.getAs[Long]("keeper_id") < 10)) // min doc_id kept
  }

  test("minhash LSH finds every exact copy with jaccard 1 and the near-dup") {
    val pairs = Dedup.minhashLsh(docsWithDups, minJaccard = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("jaccard_num"), r.getAs[Long]("jaccard_den")))
    val exactPairs = pairs.filter { case (a, b, _, _) => b == a + 10000 }
    assert(exactPairs.length == 10)
    assert(exactPairs.forall { case (_, _, num, den) => num == den })
    // near-dup (3, 20000): one changed shingle tail ⇒ high but <1 jaccard
    assert(pairs.exists { case (a, b, num, den) =>
      a == 3 && b == 20000 && num < den && num * 2 > den })
  }

  test("simhash pairs find exact copies at hamming 0") {
    val pairs = Dedup.simhashPairs(docsWithDups, maxHamming = 3).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Int]("hamming")))
    val exactPairs = pairs.filter { case (a, b, _) => b == a + 10000 }
    assert(exactPairs.length == 10)
    assert(exactPairs.forall(_._3 == 0))
  }

  test("ngram jaccard finds the near-dup pair") {
    val pairs = Dedup.ngramJaccard(docsWithDups, w = 3, minJaccard = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.contains((3L, 20000L)))
  }

  test("connected components: planted chain, clique, and singletons resolve to min-id keepers") {
    import spark.implicits._
    // chain 0-1-2-3-4 (diameter 4 — exercises multi-round propagation),
    // clique {10,11,12}, pair {20,21}; nodes 30.. are absent from pairs
    val pairs = (Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)) ++
      Seq((10L, 11L), (10L, 12L), (11L, 12L)) ++ Seq((21L, 20L)))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 4L).forall(got(_) == 0L))
    assert((10L to 12L).forall(got(_) == 10L))
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(got.size == 10) // only nodes that appear in pairs
    // and against the real near-dup graph: every exact-copy doc must land
    // in its original's cluster
    val realPairs = Dedup.simhashPairs(docsWithDups, maxHamming = 3)
    val cc = Dedup.connectedComponents(realPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach(k => assert(cc(k + 10000) == cc(k)))
  }

  test("connected components: adversarial 2000-node chain converges in O(log n) rounds") {
    import spark.implicits._
    // a path graph is the worst case for plain neighbor-min propagation
    // (diameter = n); pointer jumping must close it well inside maxIter
    val chain = (0L until 1999L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // the `cc.oneTask` gate is forced to the DISTRIBUTED loop — by its
    // measurement a graph this small takes the union-find fast path and
    // stops exercising pointer jumping
    val (got, gates) = Gate.scope(Map("cc.oneTask" -> false))(
      Dedup.connectedComponents(chain, maxIter = 25).collect())
    assert(gates.map(g => (g.gate, g.small)) == Seq("cc.oneTask" -> false))
    assert(got.length == 2000)
    assert(got.forall(_.getLong(1) == 0L), "whole chain is one component rooted at 0")
  }

  test("degenerate inputs: short texts produce no shingles and no crashes") {
    import spark.implicits._
    val tiny = Seq((1L, "one two"), (2L, ""), (3L, "a b c")).toDF("doc_id", "text")
    // w=5 > token counts ⇒ zero shingle rows ⇒ empty signatures/pairs
    assert(Dedup.minhashSignatures(tiny, w = 5).count() == 0)
    assert(Dedup.minhashLsh(tiny, w = 5).count() == 0)
    assert(Dedup.ngramJaccard(tiny, w = 5).count() == 0)
    // exact dedup still works on them
    assert(Dedup.exact(tiny).count() == 3)
  }

  test("hammingPairs recall contract: certain at d<=3; d=4..6 found iff some quarter untouched") {
    import spark.implicits._
    val base = 0x0123456789ABCDEL & ((1L << 60) - 1)
    def flip(h: Long, bits: Seq[Int]): Long = bits.foldLeft(h)((a, b) => a ^ (1L << b))
    val rows = Seq(
      (0L, base),
      (1L, flip(base, Seq(2, 3, 17))),          // d=3: quarters 1..3 clean — MUST be found
      (2L, flip(base, Seq(5, 6, 20, 21, 40))),  // d=5: quarter 3 (bits 45..59) clean — found
      (3L, flip(base, Seq(1, 16, 31, 46)))      // d=4: one bit in EVERY quarter — missed by contract
    ).toDF("id", "h")
    val got = Dedup.hammingPairs(rows, maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    spark.catalog.clearCache()
    assert(got.get((0L, 1L)).contains(3), s"d=3 pair must always be found: $got")
    assert(got.get((0L, 2L)).contains(5),
      s"d=5 pair with an untouched quarter must be found: $got")
    // the documented LSH trade: differing bits spanning all 4 quarters
    // leave no blocking key equal, so the pair is invisible even though
    // d=4 <= maxHamming=6 — this is the advertised partial-recall regime
    assert(!got.contains((0L, 3L)),
      s"all-quarters-touched pair should be missed by the blocking contract: $got")
  }

  test("keepBest: longest member wins per cluster, id ties, singletons keep themselves") {
    import spark.implicits._
    val clusters = Seq(
      (10L, 10L), (11L, 10L), (12L, 10L), // planted cluster of 3
      (20L, 20L), (21L, 20L),             // 2-cluster with equal lengths
      (30L, 30L)                          // singleton
    ).toDF("doc_id", "cluster_rep")
    val docs = Seq(
      (10L, "aa bb"), (11L, "aa bb cc dd ee"), (12L, "aa"),
      (20L, "xx yy"), (21L, "zz ww"),
      (30L, "solo")
    ).toDF("doc_id", "text")
    val got = Dedup.keepBest(clusters, docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(10L) == ((11L, 14L, 3L)), s"longest member must win: $got")
    assert(got(20L) == ((20L, 5L, 2L)), s"equal lengths tie to min doc_id: $got")
    assert(got(30L) == ((30L, 4L, 1L)), s"singleton keeps itself: $got")
  }
}
