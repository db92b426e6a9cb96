package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two dedup scale guards:
  *
  *  - the collapsed (exact-dup collapse + expand) and uncollapsed pipelines
  *    are output-IDENTICAL on a dup-heavy corpus, so the adaptive probe can
  *    pick either purely on cost;
  *  - both hot-key cap forms (window, and wide with a broadcast or a
  *    shuffled hot-key set) are output-IDENTICAL;
  *  - a blocking key shared by many distinct documents (the boilerplate-
  *    phrase scenario: one shingle in 10³ docs → 10⁶/2 candidates) is
  *    dropped by the document-frequency cap, bounding candidate generation.
  */
class DedupScaleGuardSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkTestSession.get

  // the operators persist their intermediates for the lazy result's
  // lifetime; the caller releases them after its action
  override def afterEach(): Unit =
    try spark.catalog.clearCache() finally super.afterEach()

  /** 40 base docs + 3 copies each of two texts + a near-dup — enough dup
    * mass that both code paths have real work to agree on. */
  private def corpus: DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 40)
    val dups = base.where(col("doc_id") < 2)
      .crossJoin(spark.range(1, 4).toDF("k"))
      .select((col("doc_id") + col("k") * 10000).as("doc_id"), col("text"))
    val near = base.where(col("doc_id") === 5)
      .select(lit(90000L).as("doc_id"), concat(col("text"), lit(" tail")).as("text"))
    base.unionByName(dups).unionByName(near)
  }

  private def collect(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** `run`'s result with the named gates forced (true = small side),
    * asserting each forced gate took its side; plans and rows are read
    * inside the scope. */
  private def forced[T](force: (String, Boolean)*)(run: => T): T = {
    val (out, gates) = Gate.scope(force.toMap)(run)
    for ((gate, small) <- force)
      assert(gates.filter(_.gate == gate).forall(_.small == small), s"$gate: $gates")
    out
  }

  /** Rows with the exact-dup collapse forced on (the gate's large side). */
  private def collapsed(df: => DataFrame) = forced("dedup.collapse" -> false)(collect(df))
  /** Rows with the exact-dup collapse forced off. */
  private def uncollapsed(df: => DataFrame) = forced("dedup.collapse" -> true)(collect(df))

  test("ngramJaccard: collapsed and uncollapsed paths agree exactly") {
    val ra = collapsed(Dedup.ngramJaccard(corpus, w = 3, minJaccard = 0.3))
    val rb = uncollapsed(Dedup.ngramJaccard(corpus, w = 3, minJaccard = 0.3))
    assert(ra.nonEmpty, "corpus must produce pairs")
    assert(ra == rb)
  }

  test("simhashPairs: collapsed and uncollapsed paths agree exactly") {
    val ra = collapsed(Dedup.simhashPairs(corpus, maxHamming = 8))
    val rb = uncollapsed(Dedup.simhashPairs(corpus, maxHamming = 8))
    assert(ra.nonEmpty)
    assert(ra == rb)
  }

  test("minhashLsh: collapsed and uncollapsed paths agree exactly") {
    val ra = collapsed(Dedup.minhashLsh(corpus, minJaccard = 0.4))
    val rb = uncollapsed(Dedup.minhashLsh(corpus, minJaccard = 0.4))
    assert(ra.nonEmpty)
    assert(ra == rb)
  }

  test("dupPairMass probe measures the exact duplicate candidate mass") {
    // 2 groups of 4 copies: mass = 2 * 4*3 = 24; N = 40 + 6 + 1
    val (mass, n) = Dedup.dupPairMass(corpus)
    assert(mass == 24.0)
    assert(n == 47L)
  }

  test("degenerate key skew switches to the wide cap form, output-identical") {
    import spark.implicits._
    // one shingle ("all rights reserved") planted on 50% of 2000 DISTINCT
    // docs — the hottest-key window task would sort all those rows alone;
    // the sampled probe must detect it and pick the wide 3-exchange form
    val docs = spark.range(0, 2000)
      .select(col("id").as("doc_id"),
        when(col("id") % 2 === 0,
          concat(lit("all rights reserved body"), col("id").cast("string"),
            lit(" tail"), col("id").cast("string")))
          .otherwise(concat(lit("unique"), col("id").cast("string"),
            lit(" text"), col("id").cast("string"), lit(" here"),
            col("id").cast("string"))).as("text"))
    val sh = spark.range(0, 2000).select(col("id").as("doc_id"),
      md5(col("id").cast("string")).as("th"),
      when(col("id") % 2 === 0, lit("hotkey")).otherwise(concat(lit("k"), col("id"))).as("sh"))

    // probe detects the planted dominance (~1000 rows on one key)
    val est = Dedup.approxMaxKeyRows(sh, Seq("sh"))
    assert(est > 250 && est < 4000, s"estimate $est should be ~1000")

    // wide and window cap forms agree exactly on the capped candidates
    val capped = collect(Dedup.ngramCandidates(docs, w = 3, dfCap = Dedup.ShingleDfCap))
    spark.catalog.clearCache()
    val (cappedWide, widePlan) = forced("dedup.hotKeyProbe" -> false) {
      val df = Dedup.ngramCandidates(docs, w = 3, dfCap = Dedup.ShingleDfCap)
      (collect(df), df.queryExecution.executedPlan.toString)
    }
    assert(capped == cappedWide)

    // the wide plan must not contain a Window node (no single-task sort of
    // the hot key) and must broadcast the hot-key side
    assert(!widePlan.contains("Window"), "wide form must avoid the window sort")
    assert(widePlan.contains("BroadcastHashJoin") || widePlan.contains("Broadcast"),
      "hot keys must be broadcast, not shuffled")
  }

  test("cosinePairs: degenerate bucket skew takes the wide form, output-identical") {
    import spark.implicits._
    // 2000 near-identical vectors share every band bucket (> BandBucketCap
    // → dropped by the cap) + 8 vectors of a different sign pattern that
    // stay under the cap and yield real verified pairs
    def vecs(n0: Long, n1: Long, flip: Boolean) = spark.range(n0, n1)
      .select(col("id").as("vec_id"),
        array((0 until 8).map(c =>
          lit(if (flip && c == 0) -1.0 else 1.0) + col("id") * lit(1e-9) * (c + 1)): _*)
          .cast("array<float>").as("embedding"))
    val all = vecs(0, 2000, flip = false).unionByName(vecs(2000, 2008, flip = true))
    val (rw, widePlan) = forced("dedup.hotKeyProbe" -> false) {
      val wide = Similarity.cosinePairs(all, tau = 0.5, dim = 8)
      (collect(wide), wide.queryExecution.executedPlan.toString)
    }
    spark.catalog.clearCache()
    val rn = forced("dedup.hotKeyProbe" -> true)(
      collect(Similarity.cosinePairs(all, tau = 0.5, dim = 8)))
    assert(rw.nonEmpty, "cool cluster must produce pairs")
    assert(rw == rn)
    assert(!widePlan.contains("Window"),
      "wide form must avoid the window sort")
  }

  test("every pair family: the wide cap form equals the window cap form") {
    // each family's skew probe forced both ways (large → wide 3-exchange
    // cap, its hot-key set broadcast or, forced large too, shuffled; small
    // → window cap), with caps small enough to bind (cap 1 keeps only keys
    // whose rows share one text/fingerprint), so every form must drop the
    // same hot keys
    val docs = corpus
    val hashes = Dedup.simhash(docs).select(col("doc_id").as("id"), col("simhash").as("h"))
    val vecs = spark.range(1, 401).select(col("id").as("vec_id"), // id 0: a zero vector
      array((0 until 8).map(c => sin(col("id") * (c + 1))): _*)
        .cast("array<float>").as("embedding"))
    val evalSet = vecs.where(col("vec_id") <= 20)
      .select(col("vec_id").as("eval_id"), col("embedding"))
    val families: Seq[(String, () => DataFrame)] = Seq(
      "minhashLsh" -> (() => Dedup.minhashLsh(docs, minJaccard = 0.2, bandCap = 1)),
      "simhashPairs" -> (() => Dedup.simhashPairs(docs, maxHamming = 12, quarterCap = 1)),
      "hammingPairs" -> (() => Dedup.hammingPairs(hashes, maxHamming = 12, quarterCap = 1)),
      "crossCosinePairs" -> (() => Similarity.crossCosinePairs(vecs, evalSet, tau = 0.9,
        dim = 8, bucketCap = 32)))
    for ((name, run) <- families) {
      def rowsAndPlan(force: (String, Boolean)*) = {
        val out = forced(force: _*) {
          val df = run()
          (collect(df), df.queryExecution.executedPlan.toString)
        }
        spark.catalog.clearCache()
        out
      }
      val (rw, widePlan) = rowsAndPlan("dedup.hotKeyProbe" -> false)
      val (rs, shuffledPlan) =
        rowsAndPlan("dedup.hotKeyProbe" -> false, "dedup.hotKeySet" -> false)
      val (rn, windowPlan) = rowsAndPlan("dedup.hotKeyProbe" -> true)
      assert(!widePlan.contains("Window"), s"$name: forced probe must take the wide form")
      assert(!shuffledPlan.contains("Window"), s"$name: forced probe must take the wide form")
      assert(windowPlan.contains("Window"), s"$name: forced probe must take the window form")
      assert(rw.nonEmpty, s"$name: fixture must produce pairs")
      assert(rw == rn, name)
      assert(rs == rn, s"$name: shuffled hot-key anti-join")
      info(s"$name: ${rw.size} pairs")
    }
  }

  test("hot-shingle DF cap bounds candidate generation") {
    import spark.implicits._
    // 1000 DISTINCT docs all sharing one 3-gram ("boilerplate legal footer")
    // plus unique tails: exact-dup collapse cannot help, only the DF cap can.
    val docs = spark.range(0, 1000)
      .select(col("id").as("doc_id"),
        concat(lit("boilerplate legal footer unique"),
          col("id").cast("string"), lit(" tail"), col("id").cast("string")).as("text"))
    // uncapped: every pair shares the hot shingle → n(n-1)/2 candidates
    assert(Dedup.ngramCandidates(docs, w = 3, dfCap = Int.MaxValue).count() == 1000L * 999 / 2)
    spark.catalog.clearCache()
    // capped: the hot key is dropped; unique-tail shingles produce nothing
    assert(Dedup.ngramCandidates(docs, w = 3, dfCap = Dedup.ShingleDfCap).count() == 0)
    spark.catalog.clearCache()
    // and the full operator still terminates with an empty (not wrong) result
    assert(Dedup.ngramJaccard(docs, w = 3, minJaccard = 0.9).count() == 0)
  }
}
