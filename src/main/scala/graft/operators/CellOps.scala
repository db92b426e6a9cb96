package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CellIndex, Rasterize}

/** Relational operators over the hierarchical cell index
  * ([[graft.core.CellIndex]]) beyond per-row encode/cover/ring — the
  * set-level index maintenance a spatial partitioning layer needs. */
object CellOps {

  /** Shoelace signed area of a ring (positive = CCW winding). */
  def signedArea(poly: Seq[(Double, Double)]): Double = {
    val ring = poly :+ poly.head
    ring.sliding(2).map { case Seq((ax, ay), (bx, by)) =>
      ax * by - bx * ay
    }.sum / 2.0
  }

  /** The closed form of a simple ring; a ring with fewer than 3 vertices
    * or zero signed area fails loudly. Winding is free: the even-odd
    * scanline reads CW and CCW rings alike. */
  private def closedRing(poly: Seq[(Double, Double)]): Array[(Double, Double)] = {
    require(poly.size >= 3, "need a polygon")
    require(signedArea(poly) != 0.0, "polygon ring has zero signed area")
    (poly :+ poly.head).toArray
  }

  /** The index cells of a polygon's bbox at `res`, capped by MaxCoverCells,
    * with the driver twins of the center Columns in [[centerCell]]. */
  private final class Grid(poly: Seq[(Double, Double)], res: Int) {
    val n: Double = (1L << res).toDouble
    val x0: Long = CellIndex.xIndex(poly.map(_._1).min, res)
    val x1: Long = CellIndex.xIndex(poly.map(_._1).max, res)
    val y0: Long = CellIndex.yIndex(poly.map(_._2).max, res)
    val y1: Long = CellIndex.yIndex(poly.map(_._2).min, res)
    require((x1 - x0 + 1) * (y1 - y0 + 1) <= CellIndex.MaxCoverCells,
      s"polygon fill: bbox covers ${(x1 - x0 + 1) * (y1 - y0 + 1)} cells at res=$res " +
        s"(cap ${CellIndex.MaxCoverCells})")
    def lonC(xi: Long): Double = (xi + 0.5) / n * 360.0 - 180.0
    def latC(yi: Long): Double = 90.0 - (yi + 0.5) / n * 180.0
    /** The first bbox column whose center longitude is > `v` (≥ `v` when
      * not `strict`), x1 + 1 if none — exact against [[lonC]]. */
    def colAbove(v: Double, strict: Boolean): Long = {
      def above(xi: Long) = if (strict) lonC(xi) > v else lonC(xi) >= v
      var xi = math.min(math.max(CellIndex.xIndex(v, res), x0), x1 + 1)
      while (xi > x0 && above(xi - 1)) xi -= 1
      while (xi <= x1 && !above(xi)) xi += 1
      xi
    }
    /** The bbox columns whose centers lie in the closed range [lo, hi]. */
    def colsIn(lo: Double, hi: Double): (Long, Long) =
      (colAbove(lo, strict = false), colAbove(hi, strict = true) - 1)
  }

  /** The cell id of the center of cell (`xi`, `yi`) at `res`, re-encoded
    * through the cell_id codegen Expression — the center sits 0.5 index
    * units from every floor boundary, ~1e13 ulps of headroom, so the
    * round-trip is bit-safe. */
  private def centerCell(res: Int): Column = {
    val n = (1L << res).toDouble
    val lonC = (col("xi").cast("double") + lit(0.5)) / lit(n) * lit(360.0) - lit(180.0)
    val latC = lit(90.0) - (col("yi").cast("double") + lit(0.5)) / lit(n) * lit(180.0)
    graft.functions.CellFunctions.cell_id(latC, lonC, lit(res))
  }

  /** Integer column intervals minus integer column intervals. */
  private def subtract(spans: Seq[(Long, Long)], cuts: Seq[(Long, Long)]): Seq[(Long, Long)] =
    cuts.filter(c => c._1 <= c._2).foldLeft(spans.filter(s => s._1 <= s._2)) {
      case (acc, (c0, c1)) => acc.flatMap { case (s, e) =>
        Seq((s, math.min(e, c0 - 1)), (math.max(s, c1 + 1), e)).filter(t => t._1 <= t._2)
      }
    }

  /** Strict-interior cell centers of a closed ring, row by row: for each
    * bbox row the crossings of its center latitude
    * ([[graft.core.Rasterize.rowCrossings]]) pair into odd spans, a span
    * (a, b) keeps the columns whose center is strictly inside it, and the
    * centers ON the boundary at that latitude are cut out — horizontal
    * edges and vertices, including a peak vertex that no edge counts as a
    * crossing. Returns (yi, [(xlo, xhi)]) column intervals. */
  private def insideSpans(ring: Array[(Double, Double)], g: Grid): Seq[(Long, Seq[(Long, Long)])] =
    (g.y0 to g.y1).map { yi =>
      val yc = g.latC(yi)
      val spans = Rasterize.rowCrossings(Seq(ring), yc).grouped(2).map { ab =>
        (g.colAbove(ab(0), strict = true), g.colAbove(ab(1), strict = false) - 1)
      }.toSeq
      val onRow = ring.sliding(2).flatMap { e =>
        val xs = e.filter(_._2 == yc).map(_._1)
        if (xs.isEmpty) None else Some(g.colsIn(xs.min, xs.max))
      }.toSeq
      yi -> subtract(spans, onRow)
    }

  /** One row per cell of (yi, xlo, xhi, interior) interval rows. */
  private def explodeIntervals(spark: SparkSession, rows: Seq[(Long, Long, Long, Boolean)],
                               res: Int): DataFrame = {
    import spark.implicits._
    rows.toDF("yi", "xlo", "xhi", "interior")
      .select(col("yi"), explode(sequence(col("xlo"), col("xhi"))).as("xi"), col("interior"))
      .select(centerCell(res).as("cell"), col("interior"))
  }

  /** Fill a SIMPLE polygon (concave included — admin boundaries,
    * coastlines) with index cells at `res` — the polygon form of
    * [[graft.core.CellIndex.cellCover]] (H3 polygonToCells): the cells
    * whose CENTER lies strictly inside the polygon, the standard
    * center-containment rule; centers on an edge or a vertex are excluded
    * (JTS `contains`). Raptor-style: no per-cell polygon test — the driver
    * turns each bbox row's boundary crossings into column intervals
    * ([[insideSpans]]; cost O(rows × edges), AOIs are small by contract),
    * and the (yi, xlo, xhi) rows explode into cells re-encoded at their
    * centers. Composes with [[compactCells]] for mixed-res covers of large
    * AOIs. */
  def polygonFill(spark: SparkSession, poly: Seq[(Double, Double)],
                  res: Int): DataFrame = {
    val rows = for {
      (yi, spans) <- insideSpans(closedRing(poly), new Grid(poly, res))
      (lo, hi) <- spans
    } yield (yi, lo, hi, true)
    explodeIntervals(spark, rows, res).select("cell")
  }

  /** Strict-interior membership of point (`lat`, `lon`) in a SIMPLE
    * polygon, as a Column predicate: the crossing number of the ray to
    * +lon with the crossings of [[graft.core.Rasterize.rowCrossings]] (the
    * same half-open straddle rule and the same crossing expression, so a
    * cell center gets the same answer as in [[polygonFill]]), odd = inside,
    * and any point on the boundary — a crossing equal to `lon`, a vertex,
    * a horizontal edge — is outside. */
  def insidePredicate(poly: Seq[(Double, Double)], lat: Column, lon: Column): Column = {
    val edges = closedRing(poly).sliding(2).map(e => (e(0), e(1))).toSeq
    val (crossings, onBoundary) = edges.map { case ((x0, y0), (x1, y1)) =>
      if (y0 == y1)
        (lit(0), lat === lit(y0) && lon.between(math.min(x0, x1), math.max(x0, x1)))
      else {
        val straddles = (lit(y0) <= lat && lit(y1) > lat) || (lit(y1) <= lat && lit(y0) > lat)
        val x = lit(x0) + (lat - lit(y0)) / lit(y1 - y0) * lit(x1 - x0)
        (when(straddles && x > lon, 1).otherwise(0),
          (straddles && x === lon) || (lat === lit(y0) && lon === lit(x0)))
      }
    }.unzip
    crossings.reduce(_ + _) % 2 === 1 && !onBoundary.reduce(_ || _)
  }

  /** Classified cell cover of a SIMPLE polygon at `res` — the index-side
    * half of the production spatial join: `(cell, interior)` where
    * `interior = true` cells lie ENTIRELY within the strict interior
    * (every point in them is inside — no exact test needed) and
    * `interior = false` cells may straddle the boundary (points there
    * get the exact [[insidePredicate]] verify). A point-in-polygon join
    * then becomes a broadcast equi-join on the cell id plus an exact
    * test on only the O(perimeter) boundary sliver — the corpus never
    * evaluates the polygon predicate row by row.
    *
    * Boundary cells are those an edge grown by `eps` passes through: per
    * cell row band the edge's y-range is clipped to the band (± eps), the
    * edge's x over that clip (± eps) gives a column interval. Interior
    * cells are the [[polygonFill]] centers outside every boundary cell: a
    * cell no edge touches lies wholly on its center's side. Soundness under
    * IEEE rounding is margin-guarded by `eps`: the crossing and index
    * arithmetic on |coords| ≤ 360 doubles is off by ≲ 1e-10, so eps = 1e-6
    * means misrounding can only demote interior cells to boundary (extra
    * exact tests) or keep outside cells as candidates (filtered by the
    * exact test) — never change the result set. The result set is
    * therefore EXACTLY the strict interior, independent of the cover
    * construction, which is what lets an oracle check the join with a
    * plain whole-table predicate scan.
    *
    * Scale shape: O(rows × edges) interval arithmetic on the driver; the
    * output is broadcast-sized by construction (capped by MaxCoverCells). */
  def coverClassify(spark: SparkSession, poly: Seq[(Double, Double)],
                    res: Int, eps: Double = 1e-6): DataFrame = {
    val ring = closedRing(poly)
    val g = new Grid(poly, res)
    def clampRow(yi: Long) = math.min(math.max(yi, g.y0), g.y1)
    def clampCol(xi: Long) = math.min(math.max(xi, g.x0), g.x1)
    val touched = ring.sliding(2).flatMap { e =>
      val ((ax, ay), (bx, by)) = (e(0), e(1))
      val (ylo, yhi) = (math.min(ay, by), math.max(ay, by))
      (clampRow(CellIndex.yIndex(yhi + eps, res)) to clampRow(CellIndex.yIndex(ylo - eps, res)))
        .map { yi =>
          val lo = math.max(ylo, 90.0 - (yi + 1) / g.n * 180.0 - eps)
          val hi = math.min(yhi, 90.0 - yi / g.n * 180.0 + eps)
          val xs = if (ay == by) Seq(ax, bx)
            else Seq(lo, hi).map(y => ax + (y - ay) / (by - ay) * (bx - ax))
          yi -> (clampCol(CellIndex.xIndex(xs.min - eps, res)),
            clampCol(CellIndex.xIndex(xs.max + eps, res)))
        }
    }.toSeq.groupMap(_._1)(_._2)
    val rows = insideSpans(ring, g).flatMap { case (yi, spans) =>
      // merge the row's boundary intervals so every cell appears once
      val bnd = touched.getOrElse(yi, Nil).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, (a, b)) if a <= e + 1 => (s, math.max(e, b)) :: rest
        case (acc, span) => span :: acc
      }
      bnd.map { case (lo, hi) => (yi, lo, hi, false) } ++
        subtract(spans, bnd).map { case (lo, hi) => (yi, lo, hi, true) }
    }
    explodeIntervals(spark, rows, res)
  }

  /** Global Moran's I spatial autocorrelation over per-cell point counts
    * (queen/8-neighbor contiguity at `res`) — the clustered-vs-dispersed
    * preflight of spatial statistics, emitted as EXACT integer components
    * instead of a rounded float: with N occupied cells, total mass S, and
    * scaled deviations d_i = N·x_i − S (so Σd_i = 0 and no rational mean
    * appears anywhere), the result is ONE row
    * `(n_cells, w_pairs, num = Σ_{i~j} d_i·d_j, den = Σ d_i²)` and
    * Moran's I = (N·num)/(W·den) is an exact ratio the caller evaluates —
    * the hash gate compares integers, the pagerank micro-unit family.
    * Overflow fails loudly (the pageRank guard discipline): the d_i·d_j
    * sums are bounded by 8·N·max|d|² and checked against Long.MaxValue
    * before the join, so a skewed corpus errors instead of silently
    * diverging from DuckDB's HUGEINT-widening sums.
    *
    * Scale shape: the corpus is scanned ONCE into a map-side-combined
    * (xi, yi) count (cached); everything downstream is
    * occupied-cell-sized — an 8-row offset explode, a (xi+dx, yi+dy)
    * hash self-equi-join (edge cells simply find fewer partners: no
    * ring/wraparound semantics to replay in an oracle), and two scalar
    * aggregations. The two 1-row stat reads are bounded driver actions
    * (codebook discipline).
    *
    * points: columns `lat`, `lon`. */
  /** Per-cell point counts on the (xi, yi) index grid at `res` — ONE
    * map-side-combined corpus aggregation; the clamped floor formulas are
    * the Column twins of [[graft.core.CellIndex.xIndex]]/yIndex (same
    * IEEE trees as the oracle's sqlXIndex/sqlYIndex). */
  private def gridCounts(points: DataFrame, res: Int): DataFrame = {
    val n = (1L << res).toDouble
    val xiC = least(greatest(floor((col("lon") + lit(180.0)) / lit(360.0) * lit(n))
      .cast("long"), lit(0L)), lit((1L << res) - 1))
    val yiC = least(greatest(floor((lit(90.0) - col("lat")) / lit(180.0) * lit(n))
      .cast("long"), lit(0L)), lit((1L << res) - 1))
    points.select(xiC.as("xi"), yiC.as("yi"))
      .groupBy("xi", "yi").agg(count(lit(1)).as("x"))
  }

  def moranI(points: DataFrame, res: Int): DataFrame = {
    val hist = Owned.persist(gridCounts(points, res))
    val st = hist.agg(count(lit(1)).as("n"), sum("x").as("s"), max("x").as("mx")).head()
    val (nCells, s, maxX) = (st.getLong(0), st.getLong(1), st.getLong(2))
    require(nCells > 0, "moranI: empty corpus")
    // max|d| ≤ max(N·maxX − S, S − N·1); num ≤ 8·N·max|d|², den ≤ N·max|d|²
    val maxD = (BigInt(nCells) * BigInt(maxX) - BigInt(s)).max(BigInt(s) - BigInt(nCells))
    require(BigInt(8) * nCells * maxD * maxD <= BigInt(Long.MaxValue),
      s"moranI: deviation products would overflow 64-bit (N=$nCells, max|d|=$maxD)")
    val d = hist.select(col("xi"), col("yi"),
      (lit(nCells) * col("x") - lit(s)).as("d"))
    val offs = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))
    val shifted = d.select(col("xi"), col("yi"), col("d"),
        explode(array(offs.map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)).as("o"))
      .select((col("xi") + col("o.dx")).as("nxi"),
        (col("yi") + col("o.dy")).as("nyi"), col("d"))
    val pairs = shifted.join(
      d.select(col("xi").as("nxi"), col("yi").as("nyi"), col("d").as("d2")),
      Seq("nxi", "nyi"))
    pairs.agg(sum(col("d") * col("d2")).as("num"), count(lit(1)).as("w_pairs"))
      .crossJoin(d.agg(sum(col("d") * col("d")).as("den")))
      .select(lit(nCells).as("n_cells"), col("w_pairs"), col("num"), col("den"))
  }

  /** Focal (neighborhood) statistics over the cell grid — the raster-GIS
    * "Focal Statistics" smoothing pass and the local complement to the
    * global [[moranI]]: for every OCCUPIED cell at `res`, the sum and
    * count of occupied cells in its 3×3 queen neighborhood (self
    * included). Emits `(cell, x, focal_sum, focal_n)` — all exact
    * integers, Morton ids via the bit-safe center re-encode.
    *
    * Scale shape: ONE corpus scan into the map-side-combined histogram
    * ([[gridCounts]]); the convolution is a 9-offset explode +
    * (xi+dx, yi+dy) hash self-equi-join of the OCCUPIED-cell table —
    * work is 9·|occupied cells| rows, never corpus-sized, and empty
    * neighbors cost nothing (they simply don't match, the sparse-grid
    * win over a dense raster convolution). The histogram is cached: it
    * feeds both the scatter and the final gather. */
  def cellFocal(points: DataFrame, res: Int): DataFrame = {
    val hist = Owned.persist(gridCounts(points, res))
    val offs = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 0), (0, 1),
      (1, -1), (1, 0), (1, 1))
    val contrib = hist.select(col("xi"), col("yi"), col("x"),
        explode(array(offs.map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)).as("o"))
      .select((col("xi") + col("o.dx")).as("nxi"),
        (col("yi") + col("o.dy")).as("nyi"), col("x"))
      .groupBy("nxi", "nyi")
      .agg(sum("x").as("focal_sum"), count(lit(1)).as("focal_n"))
    hist.join(contrib,
        col("xi") === col("nxi") && col("yi") === col("nyi"))
      .select(centerCell(res).as("cell"), col("x"), col("focal_sum"), col("focal_n"))
  }

  /** Grid-density hotspot clusters — DBSCAN over the cell grid (region
    * growing): cells at `res` holding ≥ `minCount` points are dense, and
    * 8-neighbor-adjacent dense cells merge into clusters via
    * [[graft.operators.Dedup.connectedComponents]] (min-cell-id labels,
    * hybrid fast path included). Emits one row per cluster:
    * `(cluster, n_cells, mass)` — the urban-area / hotspot-region
    * extraction a geo pipeline runs before per-region routing.
    *
    * Scale shape: ONE corpus scan into the map-side-combined cell
    * histogram ([[gridCounts]]); everything downstream is DENSE-CELL
    * sized — a forward-half 4-offset explode + (xi+dx, yi+dy) hash
    * self-equi-join builds each undirected adjacency edge exactly once
    * (CC symmetrizes internally), and the CC loop's shuffles are sized
    * to that graph, not the corpus. Dense cells re-encode to Morton ids
    * through the cell_id codegen path on their centers
    * ([[centerCell]]).
    *
    * points: columns `lat`, `lon`. */
  def cellClusters(points: DataFrame, res: Int, minCount: Long): DataFrame = {
    val dense = Owned.persist(gridCounts(points, res).where(col("x") >= lit(minCount))
      .select(col("xi"), col("yi"), col("x"), centerCell(res).as("cell")))
    val offs = Seq((1, -1), (1, 0), (1, 1), (0, 1)) // forward half of the 8-neighborhood
    val edges = dense.select(col("cell").as("doc_a"), col("xi"), col("yi"),
        explode(array(offs.map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)).as("o"))
      .select(col("doc_a"), (col("xi") + col("o.dx")).as("nxi"),
        (col("yi") + col("o.dy")).as("nyi"))
      .join(dense.select(col("xi").as("nxi"), col("yi").as("nyi"),
        col("cell").as("doc_b")), Seq("nxi", "nyi"))
      .select("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(edges)
    dense.join(broadcast(cc.select(col("node").as("cell"), col("label"))), Seq("cell"), "left")
      .select(coalesce(col("label"), col("cell")).as("cluster"), col("x"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_cells"), sum("x").as("mass"))
  }

  /** Compact a single-resolution cell cover to canonical mixed
    * resolutions (H3 `compactCells` / S2 `CellUnion.Normalize`): any
    * COMPLETE 4-sibling group collapses into its parent, repeatedly, down
    * to `minRes` — the covered area is exactly preserved while dense
    * regions shrink 4× per level (a broadcast cover list gets
    * correspondingly smaller, which is the point at scale: tile covers of
    * large AOIs stop carrying millions of uniform high-res cells).
    *
    * Scale shape: res − minRes rounds, each ONE map-side-combined
    * groupBy(parent) count (a quadkey sibling group is 4 consecutive ids,
    * so partial aggregation collapses it inside the scan task) + an
    * anti-join of the shrinking frontier; level k's frontier is ≤ |cover|
    * / 4^k rows, so total work is a geometric series in the cover size —
    * never the corpus. Emitted levels union by name; `(cell, res)` is the
    * canonical mixed-res key downstream joins use.
    *
    * cells: one column `cell` at resolution `res` (duplicates tolerated).
    * Returns (cell, res) with minRes ≤ res ≤ input res, minimal (no
    * complete sibling group survives — CellOpsSpec pins minimality and
    * exact area preservation). */
  def compactCells(cells: DataFrame, res: Int, minRes: Int): DataFrame = {
    require(minRes >= 0 && minRes <= res, s"need 0 <= minRes <= res, got $minRes..$res")
    var cur = cells.select(col("cell")).distinct()
    var r = res
    var out: DataFrame = null
    while (r > minRes) {
      val marked = cur.withColumn("parent", shiftright(col("cell"), 2))
      val counts = marked.groupBy("parent").agg(count(lit(1)).as("n"))
      val complete = counts.where(col("n") === 4).select("parent")
      val kept = marked.join(complete, Seq("parent"), "left_anti")
        .select(col("cell"), lit(r).as("res"))
      out = if (out == null) kept else out.unionByName(kept)
      cur = complete.select(col("parent").as("cell"))
      r -= 1
    }
    val tail = cur.select(col("cell"), lit(minRes).as("res"))
    if (out == null) tail else out.unionByName(tail)
  }
}
