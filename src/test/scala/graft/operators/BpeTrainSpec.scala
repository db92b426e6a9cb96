package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE merge induction: hand-derived planted inductions (frequency
  * weighting, LTR non-overlap rewrite, lexicographic ties, exhaustion) and
  * the consistency law with bpeEncode. */
class BpeTrainSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  test("planted induction: counts, rewrite, later-round products, exhaustion") {
    import spark.implicits._
    // 5 docs of "aaab", 3 of "ab". Hand derivation:
    //  round 1: (a,a) 2/word x5 = 10 beats (a,b) 5+3=8        -> (a,a) n=10
    //           LTR rewrite: aaab -> [aa, a, b] (no re-match of minted aa)
    //  round 2: (aa,a) 5, (a,b) 8                             -> (a,b) n=8
    //  round 3: (aa,ab) 5                                     -> (aa,ab) n=5
    //  round 4: "aaab"=[aaab], "ab"=[ab]: no pairs — exhausted at 3 merges
    val docs = ((0 until 5).map(i => (i.toLong, "aaab")) ++
      (5 until 8).map(i => (i.toLong, "ab"))).toDF("doc_id", "text")
    val got = TextOps.bpeTrain(docs, nMerges = 6)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1, "a", "a", 10L), (2, "a", "b", 8L), (3, "aa", "ab", 5L)))
  }

  test("frequency weighting spans duplicate words; ties break lexicographically") {
    import spark.implicits._
    // "xy" x2 and "zw" x2 tie at n=2 -> (x,y) < (z,w) lexicographically
    val docs = Seq((0L, "xy zw"), (1L, "xy zw")).toDF("doc_id", "text")
    val got = TextOps.bpeTrain(docs, nMerges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1, "x", "y", 2L), (2, "z", "w", 2L)))
  }

  test("learned merges drive bpeEncode: token count shrinks and tokens are merge products") {
    import spark.implicits._
    val docs = Seq((0L, "hash join hash"), (1L, "hash hash join")).toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(docs, nMerges = 8)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toIndexedSeq
    assert(merges.nonEmpty)
    val enc = TextOps.bpeEncode(docs, merges).collect()
    enc.foreach { r =>
      val nTok = r.getAs[Long]("n_tokens")
      val text = if (r.getLong(0) == 0L) "hash join hash" else "hash hash join"
      assert(nTok < text.replace(" ", "").length, "merges must compress below char count")
    }
  }

  test("hybrid: single-task fast path == distributed loop on a fuzzed corpus (deep merge chains)") {
    import spark.implicits._
    // small alphabet forces long dependent merge chains (products of
    // products), the regime where a path divergence in counting, ties or
    // LTR rewrite would surface
    val rnd = new scala.util.Random(7L)
    val alpha = "abcd"
    val docs = (0L until 200L).map { i =>
      val words = (0 until 20).map(_ =>
        (0 until (2 + rnd.nextInt(7))).map(_ => alpha(rnd.nextInt(4))).mkString)
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    def run(oneTask: Boolean) = {
      val (out, gates) = Gate.scope(Map("bpe.oneTask" -> oneTask))(
        TextOps.bpeTrain(docs, nMerges = 24)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
          .sortBy(_._1).toSeq)
      assert(gates.map(g => (g.gate, g.small)) == Seq("bpe.oneTask" -> oneTask))
      out
    }
    val t0 = System.nanoTime()
    val fast = run(oneTask = true)  // the single-task fast path
    val t1 = System.nanoTime()
    val loop = run(oneTask = false) // the distributed per-round loop
    val t2 = System.nanoTime()
    assert(fast == loop, s"fast=$fast\nloop=$loop")
    assert(fast.size == 24)
    val fastS = (t1 - t0) / 1e9; val loopS = (t2 - t1) / 1e9
    info(f"bpeTrain 24 merges: fast path $fastS%.2f s vs distributed loop $loopS%.2f s")
    // 24 driver-coordinated rounds = ≥48 Spark jobs vs ONE for the fast
    // path — even on a noisy host the gap is structural
    assert(fastS < loopS, s"fast path ($fastS s) not faster than the loop ($loopS s)")
  }
}
