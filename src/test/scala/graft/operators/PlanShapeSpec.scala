package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.QueryCatalog
import graft.sources.Fixtures

/** Physical-plan shape regression tests: the scale-critical queries must
  * keep their hash/broadcast EQUI-join + partial-aggregation shapes — a
  * silent fallback to a nested-loop join or a missing map-side combine is
  * a 100-TB regression even when small-SF results stay correct. */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkTestSession.get

  // the operators persist their intermediates for the lazy result's
  // lifetime; the caller releases them after its action
  override def afterEach(): Unit =
    try spark.catalog.clearCache() finally super.afterEach()

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    QueryCatalog.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("dedup_embedding: sign-LSH equi-join, never an all-pairs nested loop") {
    val p = plan("dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("smooth_stitch: arithmetic window keys -> hash equi-join on (oi, oj)") {
    val p = plan("smooth_stitch")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("ann_ivf / ann_topk: bucketed probe stays a hash join") {
    for (q <- Seq("ann_ivf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(2000)}")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), q)
    }
  }

  test("dedup blocking: windowed DF cap + hash self-join, no nested loop") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val p = Dedup.ngramCandidates(docs, 3, 64).queryExecution.executedPlan.toString
    // the DF cap must be the single-exchange window (dense_rank over th),
    // not an aggregate + anti-join, and candidates stay an equi-join
    assert(p.contains("dense_rank"), p.take(2000))
    assert(p.contains("InMemoryTableScan"), "blocking table must be persisted for both join sides")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"))
  }

  test("dedup_clusters: local-CC labels broadcast into the final join, no corpus shuffle") {
    // the local union-find path guarantees a measured-small label table
    // (≤ LocalCcEdgeLimit edges), so the query hints it broadcast:
    // the doc_id ⟕ labels join must be a BroadcastHashJoin — a
    // SortMergeJoin here means the corpus-sized id column is being
    // exchanged for a tens-of-MB build side (the r9 finding). The id side
    // also reads plain (no round-robin spread hop under the join).
    val p = plan("dedup_clusters")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("RoundRobinPartitioning"), p.take(2000))
  }

  test("spatial_join_tiles: cell equi-join with broadcast tile cover") {
    val p = plan("spatial_join_tiles")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("NestedLoop"))
  }

  test("flagship: broadcast cell join + two-level (partial) aggregation + column pruning") {
    val labels = Fixtures.labelGeoms().map { case (g, c) => (graft.core.Geom.toWkb(g), c) }
    val df = PagesTiling.extractChips(spark, Fixtures.pages(spark, 1000),
      Fixtures.luxMeta(), labels = Some(labels))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "cell join must broadcast the tile cover")
    // density agg: a partial aggregate must exist below the exchange
    // (map-side combine bounds shuffle records at one per task and tile)
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final aggregation expected")
    assert(!p.contains("NestedLoop"))
    // the pixel histogram is one tile-keyed aggregate: no aggregate groups
    // on the pixel coordinates, and the only shuffle besides the tile
    // cover's broadcast is the one into that aggregate
    val aggKeys = "HashAggregate\\(keys=\\[([^\\]]*)\\]".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(aggKeys.nonEmpty, p.take(3000))
    assert(aggKeys.forall(k => "\\bp[xy]#".r.findFirstIn(k).isEmpty),
      s"aggregate grouped on a pixel coordinate: ${aggKeys.mkString(" | ")}")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.count(_.contains("BroadcastExchange")) == 1, exchanges.mkString("\n"))
    assert(exchanges.count(!_.contains("BroadcastExchange")) == 1,
      "expected ONE shuffle exchange:\n" + exchanges.mkString("\n"))
  }

  test("semdedup: cluster-local pairs via bucket equi-join, never all-pairs") {
    val p = plan("semdedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"))
  }

  test("token_histogram: partial aggregation + distributed top-k, no global sort") {
    val p = plan("token_histogram")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "map-side combine expected")
    assert(!p.contains("Sort ["), "global limit must not plan a full sort")
  }

  test("cross_corpus_dedup: measured-small prior takes the broadcast anti-join, no Bloom stage") {
    // the fixture prior is far under BloomSkipPriorLimit, so the plan must
    // be the direct anti-join: no pass-through Union, no Bloom UDF pass,
    // and the new side not shuffled (broadcast build side)
    val p = plan("cross_corpus_dedup")
    assert(!p.contains("Union"), "small prior must not plan the Bloom split:\n" + p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p.take(2000))
  }

  test("cross_corpus: forced Bloom path keeps pass-through union + anti-join only on candidates") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val (p, gates) = Gate.scope(Map("crossCorpus.bloomSkip" -> false))(
      Dedup.crossCorpus(docs, docs.where(col("doc_id") % 5 === 0))
        .queryExecution.executedPlan.toString)
    assert(gates.map(g => (g.gate, g.small)) == Seq("crossCorpus.bloomSkip" -> false))
    assert(p.contains("Union"), "definite non-members must bypass the join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p.take(2000))
  }

  test("pipeline_llm: the composed curation plan stays equi-join only") {
    val p = plan("pipeline_llm")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("sessionize: window + rollup share ONE user_id exchange") {
    val p = plan("sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n${p.take(2000)}")
  }

  test("gopher bigrams shuffle 60-bit hashes, not strings (structure + measured volume)") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    // structural: no Exchange may carry the raw bigram column — the
    // countDistinct partial-distinct must aggregate over the hashed `bh`
    val p = TextOps.gopherQuality(docs).queryExecution.executedPlan.toString
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("bg#"), exchangeLines)
    assert(p.contains("bh#"), "hashed bigram column missing from the plan:\n" + p.take(2000))
    // measured: the countDistinct exchange over hashed bigrams must carry
    // materially narrower rows than the pre-hash form, which shipped every
    // (doc_id, bigram-TEXT) pair. Both aggregation shapes are built in
    // isolation and compared on the ShuffleExchange `dataSize` metric —
    // UnsafeRow bytes entering the shuffle, pre-compression, deterministic
    // for a fixed fixture (compressed bytesWritten is codec-dependent).
    val bigramExpr = expr(
      "transform(sequence(0, size(split(text, ' ', -1)) - 2), i -> " +
        "concat(element_at(split(text, ' ', -1), i + 1), ' ', " +
        "element_at(split(text, ' ', -1), i + 2)))")
    def bigramRows = docs
      .where(size(split(col("text"), " ", -1)) >= 2)
      .select(col("doc_id").cast("long").as("doc_id"), explode(bigramExpr).as("bg"))
    def measure(agg: org.apache.spark.sql.DataFrame): Long = {
      agg.collect()
      org.apache.spark.graft.PlanMetrics.shuffleDataSize(agg)
    }
    val hashedBytes = measure(
      bigramRows.select(col("doc_id"), TextOps.fingerprintCol(col("bg")).as("bh"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"), countDistinct(col("bh")).as("nd")))
    val stringBytes = measure(
      bigramRows.groupBy("doc_id")
        .agg(count(lit(1)).as("n"), countDistinct(col("bg")).as("nd")))
    assert(hashedBytes > 0L && stringBytes > 0L, "dataSize probe measured nothing")
    assert(hashedBytes * 4 <= stringBytes * 3,
      s"hashed bigram shuffle $hashedBytes B is not <=0.75x the string form's " +
        s"$stringBytes B — the hash projection no longer narrows the exchange")
  }

  test("funnel: single-pass — exactly ONE events scan, pushed type filter") {
    val qe = QueryCatalog.queries("funnel")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    val scans = "FileScan|Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"funnel plans $scans file scans (want 1):\n${p.take(3000)}")
    val formatted = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PushedFilters: [In(event_type"),
      "event_type IN filter not pushed to the events scan")
  }

  test("geo_semantic_topk: broadcast cell equi-join candidates, no cartesian/BNLJ") {
    val p = QueryCatalog.queries("geo_semantic_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"), "the kRing candidate join should broadcast")
  }

  test("pip_cell_join: broadcast cover equi-join, no cartesian/BNLJ, corpus scanned once") {
    val qe = QueryCatalog.queries("pip_cell_join")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"), "the classified cover must broadcast")
    val scans = "documents\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"pip_cell_join reads documents $scans times (want 1)")
  }

  test("tfidf_topk: partial aggregation before every exchange; the only BNLJ is the 1-row count attach") {
    val p = QueryCatalog.queries("tfidf_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    // tf and df aggregations must map-side combine (partial_count)
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"tf/df aggregation not partial:\n${p.take(2000)}")
    // the deliberate 1-row corpus-count attach is the only nested loop
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1)
  }

  test("cell_clusters: dense-cell adjacency stays an equi-join, no cartesian/BNLJ") {
    val p = QueryCatalog.queries("cell_clusters")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("asof_join: single pruned events scan, no join operator at all") {
    val qe = QueryCatalog.queries("asof_join")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    val scans = "events\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"asof_join reads events $scans times (want 1)")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      "the carry-forward form must not plan any join")
    val formatted = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PushedFilters: [In(event_type"),
      "event_type IN filter not pushed to the events scan")
  }

  test("q1_agg scan prunes to the aggregated columns only") {
    val p = QueryCatalog.queries("q1_agg")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_orderkey"),
      readSchema)
  }
}
