package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => WExpr}

import graft.functions.CellFunctions

/** Exact kNN by cell ring expansion (SURVEY.md G4, north-star requirement):
  * probe cells in growing Chebyshev rings around each query's cell and stop
  * once the k-th candidate distance is provably closer than anything outside
  * the explored disk (outside ring r ⇒ coordinate gap ≥ r · 180/2^res).
  *
  * All rounds are DataFrame equi-joins on cell (the query side is tiny and
  * broadcast); no RDDs, no cross join. For hot cells the points side is
  * already pre-aggregated per cell by the join pruning; a salted sort-merge
  * fallback is unnecessary below ~10^5 candidates per cell but the points
  * input can be pre-salted by the caller with the same semantics.
  */
object Knn {

  /** Distributed kNN for LARGE query sets (SURVEY G4's salted sort-merge
    * fallback, inside the operator): the query side is never collected —
    * each round is a cell equi-join between the points table and the
    * remaining queries' exploded k-ring cover, per-query top-k runs
    * two-level (salted partial top-k, then a merge of ≤ salt·k rows per
    * query, exact because global top-k ⊆ union of per-salt top-k — no
    * single window task ever sorts a hot query's full candidate set), and
    * queries whose k-th distance provably beats anything outside the
    * explored disk DROP OUT of later rounds. Driver-side state is one
    * count per round; results accumulate as persisted per-round frames.
    *
    * points: (id: Long, lat, lon); queries: (qid, qlat, qlon) — any size.
    * Returns (qid, rank, id, dist2), rank 1..k by squared euclidean
    * degrees, ties broken by id — identical to [[knnRingExpansion]]. */
  def knnLarge(spark: SparkSession, points: DataFrame, queries: DataFrame,
               k: Int, res: Int = 4, saltFactor: Int = 16): DataFrame = {
    val cellH = 180.0 / (1L << res).toDouble
    val pts = Owned.persist(points
      .withColumn("cell", CellFunctions.cell_id(col("lat"), col("lon"), lit(res))))
    val maxR = 1 << res
    var r = 1
    var remaining = Owned.persist(queries.select("qid", "qlat", "qlon")
      .withColumn("qcell", CellFunctions.cell_id(col("qlat"), col("qlon"), lit(res))))
    var nRemaining = remaining.count()
    val finished = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (nRemaining > 0) {
      val qCells = remaining
        .withColumn("cell", explode(CellFunctions.k_ring(col("qcell"), lit(r), lit(res))))
      val cand = pts.join(qCells, Seq("cell"))
        .withColumn("dist2",
          (col("lat") - col("qlat")) * (col("lat") - col("qlat")) +
            (col("lon") - col("qlon")) * (col("lon") - col("qlon")))
      // level 1: partial top-k per (qid, salt) — bounds any one task's sort
      // to candidates/saltFactor even when a query lands on a hot cell
      val w1 = WExpr.partitionBy(col("qid"), col("salt")).orderBy(col("dist2"), col("id"))
      val partial = cand
        .withColumn("salt", pmod(xxhash64(col("id")), lit(saltFactor)))
        .withColumn("rk", row_number().over(w1)).where(col("rk") <= k)
        .select("qid", "id", "dist2")
      // level 2: merge ≤ saltFactor·k rows per query
      val w2 = WExpr.partitionBy(col("qid")).orderBy(col("dist2"), col("id"))
      val topk = Owned.persist(partial.withColumn("rank", row_number().over(w2))
        .where(col("rank") <= k))
      // same strict stop bound as knnRingExpansion (see its comment on the
      // tie-break at kd == bound); at maxR the disk covers the whole grid
      val bound = (r.toDouble * cellH) * (r.toDouble * cellH)
      val stats = topk.groupBy("qid")
        .agg(count(lit(1)).as("n"), max(col("dist2")).as("kd"))
      val doneQ =
        if (r >= maxR) stats.select("qid")
        else stats.where(col("n") >= k && col("kd") < lit(bound)).select("qid")
      finished += topk.join(doneQ, Seq("qid"), "left_semi")
        .select("qid", "rank", "id", "dist2")
      val stillGoing = Owned.persist(remaining.join(doneQ, Seq("qid"), "left_anti"))
      // run the count action UNCONDITIONALLY: it materializes stillGoing and,
      // through doneQ → stats, caches this round's topk frame. Skipping it in
      // the final round (r >= maxR) would leave that topk lazy, and the
      // returned union would recompute its candidate join AFTER
      // the release of `pts` below — a full uncached re-scan of the points table.
      val nStill = stillGoing.count()
      nRemaining = if (r >= maxR) 0L else nStill
      Owned.release(remaining)
      remaining = stillGoing
      r = math.min(r * 2, maxR)
    }
    Owned.release(remaining)
    Owned.release(pts) // per-round topk frames are cached and materialized;
                       // the final union reads them, never the points table
    if (finished.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, Int, Long, Double)].toDF("qid", "rank", "id", "dist2")
    } else finished.reduceLeft(_ unionByName _)
  }

  /** points: (id: Long, lat, lon); queries: (qid, qlat, qlon) — small.
    * Returns (qid, rank, id, dist2) with rank 1..k by squared euclidean
    * degrees, ties broken by id. */
  def knnRingExpansion(spark: SparkSession, points: DataFrame, queries: DataFrame,
                       k: Int, res: Int = 4): DataFrame = {
    val cellH = 180.0 / (1L << res).toDouble
    val pts = points
      .withColumn("cell", CellFunctions.cell_id(col("lat"), col("lon"), lit(res)))

    val qRows = queries.select("qid", "qlat", "qlon").collect()
    // queries are a handful of rows by contract; the expansion radius is
    // driven per query but executed set-at-a-time
    var r = 1 // start with disk radius 1 (ring 0 alone rarely satisfies the bound)
    val maxR = (1 << res)
    var result: DataFrame = null
    var done = false
    while (!done) {
      val qCells = queries
        .withColumn("qcell", CellFunctions.cell_id(col("qlat"), col("qlon"), lit(res)))
        .withColumn("cell", explode(CellFunctions.k_ring(col("qcell"), lit(r), lit(res))))
        .drop("qcell")
      val cand = pts.join(broadcast(qCells), "cell")
        .withColumn("dist2",
          (col("lat") - col("qlat")) * (col("lat") - col("qlat")) +
            (col("lon") - col("qlon")) * (col("lon") - col("qlon")))
      val w = WExpr.partitionBy(col("qid")).orderBy(col("dist2"), col("id"))
      val topk = cand.withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("qid", "rank", "id", "dist2")
      // stop when every query has k hits and its k-th distance STRICTLY beats
      // the closest possible unexplored point (gap ≥ r·cellH). Strict < :
      // at kd == bound an unprobed point at exactly that distance with a
      // smaller id would win the row_number tie-break, so one more (cheap)
      // expansion round is required to certify the ordering.
      val bound = (r.toDouble * cellH) * (r.toDouble * cellH)
      val stats = topk.groupBy("qid").agg(count(lit(1)).as("n"), max("dist2").as("kd"))
        .collect().map(x => (x.getAs[Long]("n"), x.getAs[Double]("kd")))
      val allOk = stats.length == qRows.length &&
        stats.forall { case (n, kd) => n >= k && kd < bound }
      if (allOk || r >= maxR) { result = topk; done = true }
      else r = math.min(r * 2, maxR)
    }
    result
  }
}
