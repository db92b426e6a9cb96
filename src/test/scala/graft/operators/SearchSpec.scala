package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Search operators: inverted index postings and BM25 top-k, verified
  * against an in-memory reference implementation on a planted corpus —
  * independent arithmetic (plain Scala doubles, no Spark expressions), so a
  * broken expression tree cannot self-confirm. */
class SearchSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark = SparkTestSession.get

  // the operators persist their intermediates for the lazy result's
  // lifetime; the caller releases them after its action
  override def afterEach(): Unit =
    try spark.catalog.clearCache() finally super.afterEach()

  private val corpus = Seq(
    (0L, "hash join hash join hash"),          // tf-heavy on two terms
    (1L, "hash scan filter scan"),
    (2L, "join merge sort merge"),
    (3L, "filter filter filter filter filter"), // long doc, one term
    (4L, "scan"),                               // shortest doc
    (5L, "sort hash merge join scan filter"))   // touches everything

  private def df() = {
    import spark.implicits._
    corpus.toDF("doc_id", "text")
  }

  test("invertedIndex: exact (term, doc_id, tf) rows") {
    val got = Search.invertedIndex(df()).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = corpus.flatMap { case (id, t) =>
      t.split(" ").groupBy(identity).map { case (w, occ) => (w, id) -> occ.length.toLong }
    }.toMap
    assert(got == want)
  }

  test("bm25TopK matches an independent in-memory BM25; df immune to shared query terms") {
    import spark.implicits._
    // 'hash' appears in BOTH queries — df must still count documents once
    val queries = Seq((0L, "hash join"), (1L, "hash filter scan"))
    val got = Search.bm25TopK(df(), queries.toDF("qid", "qtext"), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap

    // reference: plain Scala, same formula, floored per term then summed
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = corpus.size
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    def score(qt: Seq[String], id: Long): Long = qt.distinct.flatMap { term =>
      val tf = toks(id).count(_ == term)
      if (tf == 0) None else {
        val dfT = corpus.count(c => toks(c._1).contains(term))
        val idf = (n.toDouble - dfT + 0.5) / (dfT + 0.5)
        val tfp = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (toks(id).size / avgdl)))
        Some(math.floor(idf * tfp * 1e6).toLong)
      }
    }.sum
    queries.foreach { case (qid, qtext) =>
      val qt = qtext.split(" ").toSeq
      val want = corpus.map(_._1).map(id => id -> score(qt, id))
        .filter(_._2 != 0L)
        .sortBy { case (id, s) => (-s, id) }.take(3)
      want.zipWithIndex.foreach { case ((id, s), i) =>
        assert(got((qid, i + 1)) == ((id, s)), s"query $qid rank ${i + 1}")
      }
    }
  }

  test("bm25TopK: docs without any query term never appear; k bounds per query") {
    import spark.implicits._
    val res = Search.bm25TopK(df(), Seq((9L, "merge")).toDF("qid", "qtext"), k = 10)
      .collect()
    // only docs 2 and 5 contain 'merge'
    assert(res.map(_.getLong(2)).toSet == Set(2L, 5L))
    assert(res.map(_.getInt(1)).sorted.sameElements(Seq(1, 2)))
    // tf dominance: doc 2 (merge x2) outranks doc 5 (merge x1, longer irrelevant terms)
    assert(res.find(_.getInt(1) == 1).get.getLong(2) == 2L)
  }

  test("plan shape: corpus side joins are equi-joins; only the 1-row stats frame is nested-loop") {
    import spark.implicits._
    val top = Search.bm25TopK(df(), Seq((0L, "hash join")).toDF("qid", "qtext"), k = 3)
    val plan = top.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "no shuffle-side cartesian anywhere")
    // the single BroadcastNestedLoopJoin allowed is the 1-row stats attach
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1, s"unexpected nested-loop joins in:\n$plan")
    // the top-k is one Window, with a partial group limit below the qid
    // exchange, so a query matching the whole corpus ships ≤ k rows per task
    val (windows, faults) = TopKPlan.faults(top, "qid")
    assert(windows == 1 && faults.isEmpty, s"$windows windows: $faults\n$plan")
  }
}
