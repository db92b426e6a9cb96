package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 pipeline additions: cross-corpus (incremental) dedup with the
  * Bloom pre-filter, chunk-level exact dedup, deterministic stratified
  * sampling, DSIR hashed-bigram scoring, and the per-domain funnel. */
class PipelineOpsSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkTestSession.get

  // the operators persist their intermediates for the lazy result's
  // lifetime; the caller releases them after its action
  override def afterEach(): Unit =
    try spark.catalog.clearCache() finally super.afterEach()

  test("crossCorpus: Bloom path is result-identical to the plain anti-join") {
    import spark.implicits._
    val prior = Seq((100L, "alpha beta gamma"), (101L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (1L, "alpha beta gamma"),      // dup of prior 100 → dropped
      (2L, "brand new page text"),   // survives
      (3L, "delta epsilon zeta"),    // dup of prior 101 → dropped
      (4L, "another novel document") // survives
    ).toDF("doc_id", "text")
    // both physical paths must agree: the Bloom split (the
    // `crossCorpus.bloomSkip` gate forced large) and the plain broadcast
    // anti-join (forced small; the measured side on this prior)
    def run(skip: Boolean) = {
      val (out, gates) = Gate.scope(Map("crossCorpus.bloomSkip" -> skip))(
        Dedup.crossCorpus(fresh, prior).select("doc_id").as[Long].collect().sorted)
      assert(gates.map(g => (g.gate, g.small)) == Seq("crossCorpus.bloomSkip" -> skip))
      spark.catalog.clearCache() // both paths persist the prior fingerprints
      out
    }
    val withBloom = run(skip = false)
    val plain = run(skip = true)
    val smallPath = Dedup.crossCorpus(fresh, prior) // measured, unforced
      .select("doc_id").as[Long].collect().sorted
    assert(withBloom.toSeq == Seq(2L, 4L))
    assert(plain.toSeq == withBloom.toSeq)
    assert(smallPath.toSeq == withBloom.toSeq)
  }

  test("crossCorpus: a tight-fpp Bloom on a disjoint corpus short-circuits everything") {
    import spark.implicits._
    val prior = (0L until 50L).map(i => (i, s"prior doc number $i")).toDF("doc_id", "text")
    val fresh = (0L until 50L).map(i => (i + 1000L, s"fresh doc number $i")).toDF("doc_id", "text")
    val (n, gates) = Gate.scope(Map("crossCorpus.bloomSkip" -> false))(
      Dedup.crossCorpus(fresh, prior, fpp = 0.001).count())
    assert(gates.map(g => (g.gate, g.small)) == Seq("crossCorpus.bloomSkip" -> false))
    assert(n == 50L) // nothing shared → all survive
  }

  test("chunkDedup: keep-first leaves the planted boilerplate only on the smallest doc") {
    import spark.implicits._
    val footer = "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10" // exactly one 10-token chunk
    val df = Seq(
      (5L, footer + " body five unique words here pad pad pad pad pad"),
      (2L, footer + " totally different body text words pad pad pad pad pad"),
      (9L, "no footer on this document at all pad pad pad")
    ).toDF("doc_id", "text")
    val out = TextOps.chunkDedup(df, chunk = 10).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dup_chunks"),
          r.getAs[Long]("n_tokens_kept"))).toMap
    // doc 2 is the smallest footer-carrier → keeps both its chunks (20 tokens)
    assert(out(2L) == ((2L, 0L, 20L)))
    // doc 5's footer chunk is the duplicate; its body chunk survives
    assert(out(5L) == ((2L, 1L, 10L)))
    // doc 9 has 10 tokens → one unique chunk
    assert(out(9L) == ((1L, 0L, 10L)))
  }

  test("chunkDedup: result is partition-count-invariant") {
    import spark.implicits._
    val docs = (0L until 60L).map { i =>
      val base = (0 until 25).map(t => s"w${(i * 7 + t) % 40}").mkString(" ")
      (i, if (i % 3 == 0) "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 " + base else base)
    }.toDF("doc_id", "text")
    // both chunkers share one keep-first operator
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        TextOps.chunkDedup(_, chunk = 10), TextOps.cdcChunkDedup(_)).foreach { op =>
      def run(parts: Int) =
        op(docs.repartition(parts)).orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(run(2) == run(13))
    }
  }

  test("stratifiedSample: rate 1 keeps every row, rate 0 keeps none, selection is stable") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, if (i % 2 == 0) "en" else "fr", s"src${i % 4}"))
      .toDF("doc_id", "lang", "source")
    assert(TextOps.stratifiedSample(df, Map.empty, 1.0).count() == 200L)
    assert(TextOps.stratifiedSample(df, Map("en" -> 0.0), 1.0).count() == 100L)
    val a = TextOps.stratifiedSample(df, Map("en" -> 0.4), 1.0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = TextOps.stratifiedSample(df.repartition(17), Map("en" -> 0.4), 1.0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)                 // partition-invariant
    assert(a.count(_ % 2 == 1) == 100) // every fr row kept
    val enKept = a.count(_ % 2 == 0)
    assert(enKept > 20 && enKept < 60) // ~40% of the 100 en rows
  }

  test("stratifiedSample: growing the corpus never evicts a previously kept doc") {
    import spark.implicits._
    def mk(n: Long) = (0L until n).map(i => (i, "en", "s")).toDF("doc_id", "lang", "source")
    val small = TextOps.stratifiedSample(mk(100), Map("en" -> 0.3), 1.0)
      .select("doc_id").as[Long].collect().toSet
    val big = TextOps.stratifiedSample(mk(300), Map("en" -> 0.3), 1.0)
      .select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(big))
  }

  test("h60Jvm is bit-identical to the fingerprint column") {
    import spark.implicits._
    val samples = Seq("", "a", "alpha beta", "w1 w2 w3", "päge ünïcode", "0:strat")
    val fromCol = samples.toDF("s")
      .select(TextOps.fingerprintCol(col("s"))).as[Long].collect()
    val fromJvm = samples.map(TextOps.h60Jvm)
    assert(fromCol.toSeq == fromJvm)
  }

  test("dsirScore: hand-computed target-mass sums on a tiny corpus") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c"),   // target: bigrams "a b", "b c"
      (2L, "a b"),     // raw: one bigram "a b"
      (3L, "x"),       // raw: no bigrams
      (4L, "b c b c")  // raw: "b c", "c b", "b c"
    ).toDF("doc_id", "text").withColumn("source",
      when(col("doc_id") === 1, lit("tgt")).otherwise(lit("raw")))
    val out = TextOps.dsirScore(df, col("source") === "tgt", buckets = 64).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("dsir_score"))).toMap
    val bAB = (TextOps.h60Jvm("a b") % 64).toInt
    val bBC = (TextOps.h60Jvm("b c") % 64).toInt
    val bCB = (TextOps.h60Jvm("c b") % 64).toInt
    def mass(b: Int) = Seq(bAB, bBC).count(_ == b).toLong
    assert(out(2L) == ((1L, mass(bAB))))
    assert(out(3L) == ((0L, 0L)))
    assert(out(4L) == ((3L, 2 * mass(bBC) + mass(bCB))))
    // the target doc scores itself too (the operator scores every doc)
    assert(out(1L) == ((2L, mass(bAB) + mass(bBC))))
  }

  test("tokenHistogram: exact counts, deterministic tie cut at k") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b b c c c"),
      (2L, "b c d d"),
      (3L, "c")
    ).toDF("doc_id", "text")
    val all = TextOps.tokenHistogram(df, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(all.toSeq == Seq(("c", 5L, 3L), ("b", 3L, 2L), ("d", 2L, 1L), ("a", 1L, 1L)))
    // k=2 cuts after the (n_occ desc, token asc) order — stable under ties:
    // planted tie between d(2) and a tie-candidate never reorders b/c
    val top2 = TextOps.tokenHistogram(df, k = 2).collect().map(_.getString(0))
    assert(top2.toSeq == Seq("c", "b"))
  }

  test("intraDocDedup: planted self-repeat counted, plan has no Exchange") {
    import spark.implicits._
    val p = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val df = Seq(
      (1L, p + " " + p + " tail words beyond the repeated span here now ok"),
      (2L, "all unique tokens in this one document body pad pad pad")
    ).toDF("doc_id", "text")
    val out = TextOps.intraDocDedup(df, chunk = 10)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    val m = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m(1L) == ((3L, 1L, 19L))) // 29 tokens, chunk 2 repeats chunk 1; 10+9 kept
    assert(m(2L) == ((2L, 0L, 11L)))
  }

  test("intraDocDedup vs chunkDedup: the same repeat across DOCS is only corpus-level") {
    import spark.implicits._
    val p = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    val df = Seq((1L, p + " one unique tail here"), (2L, p + " two other tail there"))
      .toDF("doc_id", "text")
    // no within-doc repetition → intra sees zero dups
    assert(TextOps.intraDocDedup(df, 10).agg(sum("n_dup_chunks")).head.getLong(0) == 0L)
    // the shared prefix IS a corpus-level dup → chunkDedup sees one
    assert(TextOps.chunkDedup(df, 10).agg(sum("n_dup_chunks")).head.getLong(0) == 1L)
  }

  test("semDedup: planted identical embeddings flagged, lowest id kept, partition-invariant") {
    import spark.implicits._
    val dim = 8
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(i => (((seed * 31 + i * 7) % 13) - 6).toFloat / 6f)
    val rows = (0 until 40).map { i =>
      // ids 10, 20, 30 share id 0's embedding exactly (cos = 1)
      val v = if (i % 10 == 0) vec(0) else vec(i)
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, tau = 0.999, nCentroids = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out(0L) == 0)                     // lowest id of the clone group keeps
    assert(Seq(10L, 20L, 30L).forall(out(_) == 1)) // clones flagged
    val rep = Similarity.semDedup(df.repartition(7), tau = 0.999, nCentroids = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(rep == out)
  }

  test("substringDedup: shared span found at ANY offset; intra-doc repeats don't flag") {
    import spark.implicits._
    val span = "p1 p2 p3 p4 p5 p6 p7 p8" // exactly one 8-token window
    val df = Seq(
      (1L, span + " alpha beta gamma delta eps zeta eta theta"),   // span at offset 0
      (2L, "iota kappa lambda " + span + " mu nu xi omicron pi"),  // same span, offset 3
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8 q1 q2 q3 q4 q5 q6 q7 q8"),     // repeats ITSELF only
      (4L, "all fresh tokens never appearing anywhere else at all here")
    ).toDF("doc_id", "text")
    val out = TextOps.substringDedup(df, window = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(out(1L)._2 == 1 && out(2L)._2 == 1) // cross-doc span flags both
    assert(out(1L)._1 == 1L)                   // exactly the planted window is shared
    assert(out(3L) == ((0L, 0)))               // self-repetition is not cross-doc
    assert(out(4L) == ((0L, 0)))
    val rep = TextOps.substringDedup(df.repartition(7), window = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(rep == out)
  }

  test("bpePairCounts: hand-counted adjacent pairs, short words skipped") {
    import spark.implicits._
    val df = Seq((1L, "abab cd x"), (2L, "ab ba")).toDF("doc_id", "text")
    val out = TextOps.bpePairCounts(df, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // abab → ab, ba, ab; cd → cd; x skipped; ab → ab; ba → ba
    assert(out.toSeq == Seq(("ab", 3L), ("ba", 2L), ("cd", 1L)))
  }

  test("lengthPercentiles: histogram interpolation equals the sorted-array order statistic") {
    import spark.implicits._
    // lengths 1..10 → p50 over n=10: h=(10-1)*0.5=4.5 → 5 + 0.5*(6-5) = 5.5
    val df = (1 to 10).map(n => (n.toLong, (1 to n).map(_ => "w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.lengthPercentiles(df, Seq(0.0, 0.5, 1.0)).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(out(0.0) == 1000000L)
    assert(out(0.5) == 5500000L)
    assert(out(1.0) == 10000000L)
  }

  test("crossCorpusStream equals batch crossCorpus on the same tables") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val prior = docs.where(col("doc_id") % 5 === 0)
    val batch = Dedup.crossCorpus(docs, prior)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val streamed = Streaming.crossCorpusStream(spark, sf, prior)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("domainStats matches the qualityScore composition it inlines") {
    import spark.implicits._
    val docs = (0L until 80L).map { i =>
      val n = 5 + (i % 30).toInt
      val words = (0 until n).map(t => if (t % 4 == 0) "the" else s"word${t % 9}")
      (i, words.mkString(" "), s"l${i % 3}", s"d${i % 5}")
    }.toDF("doc_id", "text", "lang", "source")
    val got = TextOps.domainStats(docs).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val want = TextOps.qualityScore(docs)
      .join(docs.select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
        sum(when(col("quality_ok"), 1L).otherwise(0L)).as("n_pass"),
        countDistinct("lang").as("n_langs"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == want.toSeq)
  }
}
