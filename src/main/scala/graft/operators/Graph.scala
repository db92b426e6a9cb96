package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over the crawl's domain graph — the curation
  * signal family (domain authority as a quality weight) that large-scale
  * web-corpus pipelines compute alongside text filters: Common-Crawl-style
  * curation weights documents by their domain's rank in the host/domain
  * link graph.
  */
object Graph {

  /** PageRank (Page et al. 1999) in exact INTEGER micro-units — designed
    * so the cross-engine gate is a hash match, not a float truce: ranks
    * live in millionths (r₀ = 1 000 000 = 1.0), each edge contribution is
    * floored by integer division BEFORE the sum, and the damping jump is
    * an integer constant, so every iterate is an exact integer on any
    * engine:
    *
    *   r_{t+1}(v) = jumpU + Σ_{(u,v,w)} (r_t(u) · dampNum · w) div (100 · W(u))
    *
    * with W(u) = Σ outlink weight of u. Dangling nodes (inlinks but no
    * outlinks) simply leak their mass — the standard drop-dangling
    * variant; total mass is then sub-stochastic, which is fine for the
    * RANKING use (curation weights), and exactly mirrored by the oracle.
    * A weight-1 symmetric cycle is an exact fixpoint at 1 000 000
    * (GraphSpec pins it), so the micro-unit flooring loses nothing on
    * balanced graphs and ≤ 1 µ-unit per edge elsewhere.
    *
    * Scale shape: the working state is the EDGE table with its
    * precomputed out-weights — checkpointed once; every iteration is one
    * edge-sized equi-join + a map-side-combined integer sum + a node-sized
    * left join (ranks for isolated-inlink nodes coalesce to the jump
    * term). Lineage is truncated per round with an eager localCheckpoint
    * (the CC-loop discipline — without it the driver re-analyzes the whole
    * accumulated plan every iteration); shuffles are graph-sized, never
    * corpus-sized, because the corpus collapses to (src, dst, w) before
    * the loop starts.
    *
    * HYBRID (the [[Dedup.connectedComponents]] fast-path discipline): a
    * domain graph is usually tiny next to the corpus it came from (10⁵–10⁷
    * hosts for a 10¹²-page crawl), and the distributed loop's per-round
    * cost on a measured-small graph is pure shuffle fixed cost × iters. An
    * edge table at or under [[Dedup.LocalCcEdgeLimit]] rows (CC's sizing
    * argument) therefore iterates in ONE task (the `pagerank.oneTask` gate;
    * identical integer math — GraphSpec pins fast == loop); larger graphs
    * keep the distributed loop.
    *
    * edges: (src, dst, w) — pre-aggregated, self-loops already dropped.
    * Returns (node, rank_u) for every node appearing as src or dst.
    *
    * Overflow guard: the per-edge term rank_u · dampNum · w is plain Long
    * arithmetic on both paths; on a skewed graph with huge weights it
    * could wrap — and non-ANSI Spark and the JVM wrap IDENTICALLY while
    * DuckDB widens to HUGEINT, so the failure mode would be a silent
    * cross-engine divergence, not an error. Both paths therefore check
    * max(rank) · dampNum · max(w) against Long.MaxValue every round (a
    * node-sized agg next to the round's edge join; O(nodes) scan on the
    * fast path) and fail loudly with a rescale hint instead. */
  def pageRank(edges: DataFrame, iters: Int = 10,
               dampNum: Long = 85L, jumpU: Long = 150000L): DataFrame = {
    require(iters >= 0)
    val spark = edges.sparkSession
    import spark.implicits._
    val outW = edges.groupBy("src").agg(sum("w").as("wout"))
    // edge table + out-weights materialized ONCE; the loop re-joins it
    // every round, so its lineage must not include the corpus scan
    val ew = Owned.checkpoint(edges.join(outW, Seq("src")))

    if (Gate("pagerank.oneTask", Dedup.LocalCcEdgeLimit)(ew.count())) {
      val idType = edges.schema(edges.schema.fieldIndex("src")).dataType
      val out = Owned.checkpoint(ew.select(col("src").cast("long"), col("dst").cast("long"),
          col("w").cast("long"), col("wout").cast("long"))
        .as[(Long, Long, Long, Long)].repartition(1)
        .mapPartitions { it =>
          val es = it.toArray
          val ns = (es.map(_._1) ++ es.map(_._2)).distinct
          val maxW = math.max(if (es.isEmpty) 1L else es.map(_._3).max, 1L)
          var r = ns.map(_ -> 1000000L).toMap
          for (_ <- 1 to iters) {
            val maxR = if (r.isEmpty) 0L else r.values.max
            require(maxR <= Long.MaxValue / dampNum / maxW,
              s"pageRank: rank*damp*w would overflow Long (max rank $maxR, " +
                s"max w $maxW) — rescale edge weights")
            val mass = scala.collection.mutable.LongMap.empty[Long].withDefaultValue(0L)
            es.foreach { case (u, v, w, wout) =>
              mass(v) += r(u) * dampNum * w / (100L * wout)
            }
            r = ns.map(n => n -> (jumpU + mass(n))).toMap
          }
          r.iterator
        }
        .toDF("node", "rank_u")
        .select(col("node").cast(idType).as("node"), col("rank_u")))
      Owned.release(ew)
      return out
    }
    val nodesCk = nodesOf(ew)
    val maxW = math.max(
      Option(ew.agg(max(col("w").cast("long"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(1L), 1L)
    var ranks = Owned.checkpoint(nodesCk.withColumn("rank_u", lit(1000000L)))
    for (_ <- 1 to iters) {
      val maxR = Option(ranks.agg(max("rank_u")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      require(maxR <= Long.MaxValue / dampNum / maxW,
        s"pageRank: rank*damp*w would overflow Long (max rank $maxR, " +
          s"max w $maxW) — rescale edge weights")
      val contrib = ew
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr(s"(rank_u * $dampNum * w) div (100 * wout)").as("c"))
        .groupBy("node").agg(sum("c").as("mass"))
      val next = Owned.checkpoint(nodesCk.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(jumpU) + coalesce(col("mass"), lit(0L))).as("rank_u")))
      Owned.release(ranks)
      ranks = next
    }
    Owned.release(ew)
    Owned.release(nodesCk)
    ranks
  }

  /** Every node of a checkpointed edge table, as src or dst, checkpointed:
    * derived from the checkpoint, so the input graph's lineage runs once. */
  private def nodesOf(ew: DataFrame): DataFrame =
    Owned.checkpoint(ew.select(col("src").as("node"))
      .unionByName(ew.select(col("dst").as("node")))
      .distinct())

  /** HITS hubs & authorities (Kleinberg 1999) in exact integer
    * micro-units — the query-independent link-analysis complement to
    * [[pageRank]]: hubs point at good authorities, authorities are
    * pointed at by good hubs. Per round, h_i = Σ_{i→j} w·a_j and
    * a_i = Σ_{j→i} w·h_i, each rescaled so the round's maximum is
    * exactly 1 000 000 (integer floor division on both engines — all
    * values are non-negative, so Spark `div` and DuckDB `//` agree);
    * the max-normalization replaces the classical L2 norm, which would
    * need a square root no integer oracle can replay. Ten distributed
    * rounds hash-match ten unrolled oracle CTE rounds with no float
    * tolerance anywhere — the pageRank determinism family.
    *
    * Hybrid like [[pageRank]] (the `hits.oneTask` gate): an edge table
    * measured ≤ [[Dedup.LocalCcEdgeLimit]] runs all rounds in ONE task with
    * identical arithmetic (GraphSpec pins fast == loop); larger graphs
    * keep the distributed loop — per round two edge-sized joins + map-side
    * integer sums + a node-sized left join, lineage checkpoint-truncated.
    * Overflow fails loudly up front: scores are ≤ 1e6 after every
    * rescale, so the guard is static — max per-node in/out weight ≤
    * Long.MaxValue / 1e12.
    *
    * edges: (src, dst, w). Returns (node, hub_u, auth_u). */
  def hits(edges: DataFrame, iters: Int = 10): DataFrame = {
    require(iters >= 1, "hits: need at least one round")
    val spark = edges.sparkSession
    import spark.implicits._
    val ew = Owned.checkpoint(edges.select(col("src"), col("dst"), col("w")))
    val nEdges = ew.count()
    require(nEdges > 0, "hits: empty edge table")
    val degBound = math.max(
      ew.groupBy("src").agg(sum("w").as("s")).agg(max("s")).head().getLong(0),
      ew.groupBy("dst").agg(sum("w").as("s")).agg(max("s")).head().getLong(0))
    // score ≤ 1e6 post-rescale ⇒ unnormalized sums ≤ degBound·1e6 and the
    // ·1e6 rescale numerator ≤ degBound·1e12 — guard once, loudly
    require(degBound <= Long.MaxValue / 1000000000000L,
      s"hits: per-node weight $degBound would overflow the 1e12 headroom — rescale w")

    if (Gate("hits.oneTask", Dedup.LocalCcEdgeLimit)(nEdges)) {
      val idType = edges.schema(edges.schema.fieldIndex("src")).dataType
      val out = Owned.checkpoint(ew.select(col("src").cast("long"), col("dst").cast("long"),
          col("w").cast("long"))
        .as[(Long, Long, Long)].repartition(1)
        .mapPartitions { it =>
          val es = it.toArray
          val ns = (es.map(_._1) ++ es.map(_._2)).distinct
          var a = ns.map(_ -> 1000000L).toMap
          var h = Map.empty[Long, Long]
          for (_ <- 1 to iters) {
            val hm = scala.collection.mutable.LongMap.empty[Long].withDefaultValue(0L)
            es.foreach { case (u, v, w) => hm(u) += w * a(v) }
            val mh = ns.iterator.map(n => hm(n)).max
            h = ns.map(n => n -> hm(n) * 1000000L / mh).toMap
            val am = scala.collection.mutable.LongMap.empty[Long].withDefaultValue(0L)
            es.foreach { case (u, v, w) => am(v) += w * h(u) }
            val ma = ns.iterator.map(n => am(n)).max
            a = ns.map(n => n -> am(n) * 1000000L / ma).toMap
          }
          ns.iterator.map(n => (n, h(n), a(n)))
        }
        .toDF("node", "hub_u", "auth_u")
        .select(col("node").cast(idType).as("node"), col("hub_u"), col("auth_u")))
      Owned.release(ew)
      return out
    }

    val nodesCk = nodesOf(ew)
    var auth = Owned.checkpoint(nodesCk.withColumn("v", lit(1000000L)))
    var hub: DataFrame = null
    for (_ <- 1 to iters) {
      val hRaw = ew.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), (col("w") * col("v")).as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      val hAll = Owned.checkpoint(nodesCk.join(hRaw, Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("v")))
      val mh = hAll.agg(max("v")).head().getLong(0)
      val hNext = Owned.checkpoint(hAll.select(col("node"),
        expr(s"(v * 1000000) div $mh").as("v")))
      Owned.release(hAll)
      if (hub != null) Owned.release(hub)
      hub = hNext
      val aRaw = ew.join(hub.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("w") * col("v")).as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      val aAll = Owned.checkpoint(nodesCk.join(aRaw, Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("v")))
      val ma = aAll.agg(max("v")).head().getLong(0)
      val aNext = Owned.checkpoint(aAll.select(col("node"),
        expr(s"(v * 1000000) div $ma").as("v")))
      Owned.release(aAll)
      Owned.release(auth)
      auth = aNext
    }
    Owned.release(ew)
    Owned.release(nodesCk)
    hub.withColumnRenamed("v", "hub_u")
      .join(auth.withColumnRenamed("v", "auth_u"), Seq("node"))
  }

  /** The deterministic domain link graph of the documents corpus (two
    * outlinks per doc by fixed affine maps over a 97-domain space,
    * self-loops dropped, multiplicity kept as edge weight) — the fixture
    * form of "aggregate per-page outlinks to the domain graph". Shared
    * verbatim with the DuckDB oracle. */
  def domainLinkGraph(docs: DataFrame, nDomains: Int = 97): DataFrame = {
    val d = lit(nDomains.toLong)
    docs.select((col("doc_id") % d).as("src"),
        ((col("doc_id") * 31 + 7) % d).as("dst"))
      .unionByName(docs.select((col("doc_id") % d).as("src"),
        ((col("doc_id") * 53 + 11) % d).as("dst")))
      .where(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }
}
