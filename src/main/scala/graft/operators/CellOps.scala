package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.CellIndex

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

  /** Normalize a ring to CCW winding via the shoelace sign, so the strict
    * cross > 0 half-plane tests below always mean INSIDE — a clockwise
    * input is reversed instead of silently yielding an empty fill
    * (round-7 advice); a degenerate zero-area ring fails loudly. */
  private def ccw(poly: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val a = signedArea(poly)
    require(a != 0.0, "polygon ring has zero signed area")
    if (a > 0) poly else poly.reverse
  }

  /** One ear-clipped triangle (vertices CCW). origAB/origBC/origCA mark
    * whether that edge lies on the ORIGINAL ring (strict half-plane — the
    * boundary-exclusive center rule) or is an internal diagonal (closed
    * half-plane: a center exactly on a shared diagonal is strictly inside
    * the polygon and must be claimed by the triangles the diagonal bounds,
    * not dropped between two strict interiors). With that closure the
    * union of triangle tests is EXACTLY the strict interior of the
    * polygon — within a triangle, the line through a ring edge intersects
    * the triangle only along the edge segment itself, so the strict test
    * never excludes an interior point. */
  final case class Tri(a: (Double, Double), b: (Double, Double), c: (Double, Double),
                       origAB: Boolean, origBC: Boolean, origCA: Boolean)

  /** Deterministic ear-clipping triangulation of a SIMPLE ring (no holes,
    * no repeated closing vertex): always clips the first valid ear in ring
    * order, so the triangle list — and therefore the SQL the oracle
    * generator derives from it — is a pure function of the input. AOIs are
    * small by contract (tens of vertices), so the O(n³) driver cost is
    * noise; the distributed work downstream is unchanged. Consecutive
    * collinear vertices are rejected: clipping one would replace two ring
    * edges by a diagonal lying ON the boundary, and the strict/closed edge
    * classification would misread it. */
  def triangulate(polyIn: Seq[(Double, Double)]): Seq[Tri] = {
    val poly = ccw(polyIn)
    val n = poly.size
    require(n >= 3, "need a polygon")
    def cross(a: (Double, Double), b: (Double, Double), p: (Double, Double)): Double =
      (b._1 - a._1) * (p._2 - a._2) - (b._2 - a._2) * (p._1 - a._1)
    def isOrig(i: Int, j: Int): Boolean = (i + 1) % n == j
    val idx = scala.collection.mutable.ArrayBuffer.range(0, n)
    val out = scala.collection.mutable.ArrayBuffer.empty[Tri]
    while (idx.size > 3) {
      val m = idx.size
      var clipped = false
      var k = 0
      while (k < m && !clipped) {
        val ip = idx((k + m - 1) % m); val ic = idx(k); val in2 = idx((k + 1) % m)
        val (a, b, c) = (poly(ip), poly(ic), poly(in2))
        val cr = cross(a, b, c)
        require(cr != 0.0,
          s"triangulate: collinear consecutive vertices at ring index $ic")
        if (cr > 0) {
          // a convex corner is an ear iff no other remaining vertex sits in
          // the CLOSED candidate triangle (closed so touching reflex
          // vertices block the clip instead of producing a crossing edge)
          val blocked = idx.exists { j =>
            j != ip && j != ic && j != in2 && {
              val p = poly(j)
              cross(a, b, p) >= 0 && cross(b, c, p) >= 0 && cross(c, a, p) >= 0
            }
          }
          if (!blocked) {
            out += Tri(a, b, c, isOrig(ip, ic), isOrig(ic, in2), isOrig(in2, ip))
            idx.remove(k)
            clipped = true
          }
        }
        k += 1
      }
      require(clipped, "triangulate: no ear found (ring is not simple)")
    }
    val (i0, i1, i2) = (idx(0), idx(1), idx(2))
    out += Tri(poly(i0), poly(i1), poly(i2),
      isOrig(i0, i1), isOrig(i1, i2), isOrig(i2, i0))
    out.toSeq
  }

  /** The bbox candidate grid of a polygon at `res` plus the exact center
    * coordinates — xi/yi enumerated as ONE distributed range (no
    * cartesian), capped by MaxCoverCells. Shared by the convex and
    * concave fills. */
  private def bboxGrid(spark: SparkSession, poly: Seq[(Double, Double)],
                       res: Int): (DataFrame, Column, Column) = {
    val lons = poly.map(_._1); val lats = poly.map(_._2)
    val x0 = CellIndex.xIndex(lons.min, res); val x1 = CellIndex.xIndex(lons.max, res)
    val y0 = CellIndex.yIndex(lats.max, res); val y1 = CellIndex.yIndex(lats.min, res)
    val w = x1 - x0 + 1; val h = y1 - y0 + 1
    require(w * h <= CellIndex.MaxCoverCells,
      s"polygon fill: bbox covers ${w * h} cells at res=$res (cap ${CellIndex.MaxCoverCells})")
    val n = (1L << res).toDouble
    val grid = spark.range(w * h).select(
      (lit(x0) + col("id") % w).as("xi"),
      (lit(y0) + expr(s"id div $w")).as("yi"))
    val lonC = (col("xi").cast("double") + lit(0.5)) / lit(n) * lit(360.0) - lit(180.0)
    val latC = lit(90.0) - (col("yi").cast("double") + lit(0.5)) / lit(n) * lit(180.0)
    (grid, lonC, latC)
  }

  /** Fill a CONVEX polygon with index cells at `res` — the polygon form
    * of [[graft.core.CellIndex.cellCover]] (H3 polygonToCells): the cells
    * whose CENTER lies strictly inside the polygon, which is the standard
    * center-containment fill rule. Candidates enumerate the bbox index
    * grid as ONE distributed range (xi = x0 + id % w, yi = y0 + id div w
    * — no cartesian), the inside test is the half-plane conjunction of
    * the (CCW-normalized — see [[signedArea]]) ring (cross > 0 per edge;
    * every operand is a literal or exactly-rounded IEEE arithmetic, so
    * the oracle evaluates the identical tree), and surviving centers
    * re-encode through the cell_id codegen Expression — the center sits
    * 0.5 index units from every floor boundary, ~1e13 ulps of headroom,
    * so the round-trip is bit-safe. Composes with [[compactCells]] for
    * mixed-res covers of large AOIs. Convex-only by contract (concave
    * AOIs use [[polygonFill]]); boundary-touching centers are excluded by
    * the strict test on both engines. */
  def convexFill(spark: SparkSession, poly: Seq[(Double, Double)],
                 res: Int): DataFrame = {
    require(poly.size >= 3, "need a polygon")
    val ring0 = ccw(poly)
    val (grid, lonC, latC) = bboxGrid(spark, ring0, res)
    val ring = ring0 :+ ring0.head
    val inside = ring.sliding(2).map { case Seq((ax, ay), (bx, by)) =>
      ((lit(bx) - lit(ax)) * (latC - lit(ay)) -
        (lit(by) - lit(ay)) * (lonC - lit(ax))) > lit(0.0)
    }.reduce(_ && _)
    grid.where(inside)
      .select(graft.functions.CellFunctions.cell_id(latC, lonC, lit(res)).as("cell"))
  }

  /** Strict-interior membership of point (`lat`, `lon`) in a SIMPLE
    * polygon, as a Column predicate: the disjunction over the
    * [[triangulate]]d triangles of their half-plane conjunctions (ring
    * edges strict, internal diagonals closed — see [[Tri]]; the union is
    * exactly the strict interior). Every operand is a literal or
    * exactly-rounded IEEE arithmetic, so a SQL oracle can evaluate the
    * identical tree. Shared by [[polygonFill]] (over cell centers) and
    * the cell-indexed PIP join (over boundary-cell points). */
  def insidePredicate(poly: Seq[(Double, Double)], lat: Column, lon: Column): Column = {
    def edge(a: (Double, Double), b: (Double, Double), orig: Boolean): Column = {
      val cr = (lit(b._1) - lit(a._1)) * (lat - lit(a._2)) -
        (lit(b._2) - lit(a._2)) * (lon - lit(a._1))
      if (orig) cr > lit(0.0) else cr >= lit(0.0)
    }
    triangulate(poly).map { t =>
      edge(t.a, t.b, t.origAB) && edge(t.b, t.c, t.origBC) && edge(t.c, t.a, t.origCA)
    }.reduce(_ || _)
  }

  /** Fill an arbitrary SIMPLE polygon (concave included — admin
    * boundaries, coastlines) with index cells at `res`: driver-side
    * ear-clipping triangulation ([[triangulate]] — AOIs are small by
    * contract), then ONE bbox-grid scan testing [[insidePredicate]] on
    * cell centers. Same scale shape as [[convexFill]]: the triangle count
    * multiplies the per-row predicate cost, never the row count, and the
    * single distributed range replaces any per-triangle union —
    * no rescans, no dedup join. */
  def polygonFill(spark: SparkSession, poly: Seq[(Double, Double)],
                  res: Int): DataFrame = {
    val (grid, lonC, latC) = bboxGrid(spark, poly, res)
    grid.where(insidePredicate(poly, latC, lonC))
      .select(graft.functions.CellFunctions.cell_id(latC, lonC, lit(res)).as("cell"))
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
    * Soundness under IEEE rounding is margin-guarded by `eps`: a cell is
    * marked interior only when all 4 corners clear every edge of some
    * one triangle by > eps, and kept as a candidate whenever any corner
    * comes within eps of any triangle (per-edge max-corner separating
    * test + bbox overlap with eps slack). The cross terms are products
    * of |coords| ≤ 360 doubles (absolute rounding error ≲ 1e-10), so
    * eps = 1e-6 means misrounding can only demote interior cells to
    * boundary (extra exact tests) or keep outside cells as candidates
    * (filtered by the exact test) — never change the result set. The
    * result set is therefore EXACTLY the strict interior, independent of
    * the cover construction, which is what lets an oracle check the join
    * with a plain whole-table predicate scan.
    *
    * Scale shape: the bbox grid is ONE distributed range (capped by
    * MaxCoverCells) and the output is broadcast-sized by construction;
    * candidate filtering multiplies the per-row predicate cost by the
    * triangle count, never the row count. */
  def coverClassify(spark: SparkSession, poly: Seq[(Double, Double)],
                    res: Int, eps: Double = 1e-6): DataFrame = {
    val tris = triangulate(poly)
    val (grid, lonC, latC) = bboxGrid(spark, poly, res)
    val n = (1L << res).toDouble
    val lonLo = col("xi").cast("double") / lit(n) * lit(360.0) - lit(180.0)
    val lonHi = (col("xi").cast("double") + lit(1.0)) / lit(n) * lit(360.0) - lit(180.0)
    val latHi = lit(90.0) - col("yi").cast("double") / lit(n) * lit(180.0)
    val latLo = lit(90.0) - (col("yi").cast("double") + lit(1.0)) / lit(n) * lit(180.0)
    val corners = Seq((lonLo, latLo), (lonLo, latHi), (lonHi, latLo), (lonHi, latHi))
    def cross(a: (Double, Double), b: (Double, Double), x: Column, y: Column): Column =
      (lit(b._1) - lit(a._1)) * (y - lit(a._2)) - (lit(b._2) - lit(a._2)) * (x - lit(a._1))
    def triEdges(t: Tri) = Seq((t.a, t.b), (t.b, t.c), (t.c, t.a))
    // fully inside t: all 4 corners clear all 3 edges by > eps ⇒ the cell
    // (the corner hull) sits in t's closed interior ⇒ in the polygon's
    // strict interior (ring edges cleared strictly with margin)
    val interior = tris.map { t =>
      triEdges(t).map { case (a, b) =>
        corners.map { case (x, y) => cross(a, b, x, y) > lit(eps) }.reduce(_ && _)
      }.reduce(_ && _)
    }.reduce(_ || _)
    // candidate for t: bbox overlap (eps slack) and, per edge, SOME corner
    // not separated (max corner cross > -eps) — the separating-axis test
    // for a convex triangle vs an axis-aligned box, margin-relaxed so any
    // strictly-inside point's cell always survives
    val cand = tris.map { t =>
      val xs = Seq(t.a._1, t.b._1, t.c._1); val ys = Seq(t.a._2, t.b._2, t.c._2)
      val bbox = lonLo <= lit(xs.max + eps) && lonHi >= lit(xs.min - eps) &&
        latLo <= lit(ys.max + eps) && latHi >= lit(ys.min - eps)
      val axes = triEdges(t).map { case (a, b) =>
        corners.map { case (x, y) => cross(a, b, x, y) }.reduce(greatest(_, _)) > lit(-eps)
      }.reduce(_ && _)
      bbox && axes
    }.reduce(_ || _)
    grid.where(cand)
      .select(graft.functions.CellFunctions.cell_id(latC, lonC, lit(res)).as("cell"),
        interior.as("interior"))
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
    * (xi, yi) count (persisted — usual cache contract: caller clearCache
    * after the terminal action); everything downstream is
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
    val hist = gridCounts(points, res)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
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
    * win over a dense raster convolution). The histogram is persisted
    * (it feeds both the scatter and the final gather) — usual cache
    * contract: caller clearCache after the terminal action. */
  def cellFocal(points: DataFrame, res: Int): DataFrame = {
    val n = (1L << res).toDouble
    val lonC = (col("xi").cast("double") + lit(0.5)) / lit(n) * lit(360.0) - lit(180.0)
    val latC = lit(90.0) - (col("yi").cast("double") + lit(0.5)) / lit(n) * lit(180.0)
    val hist = gridCounts(points, res)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
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
      .select(graft.functions.CellFunctions.cell_id(latC, lonC, lit(res)).as("cell"),
        col("x"), col("focal_sum"), col("focal_n"))
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
    * through the cell_id codegen path on their centers (0.5-index-unit
    * margin, bit-safe — the [[convexFill]] trick). Persisted frames
    * follow the usual cache contract (caller clearCache after the
    * terminal action).
    *
    * points: columns `lat`, `lon`. */
  def cellClusters(points: DataFrame, res: Int, minCount: Long): DataFrame = {
    val n = (1L << res).toDouble
    val lonC = (col("xi").cast("double") + lit(0.5)) / lit(n) * lit(360.0) - lit(180.0)
    val latC = lit(90.0) - (col("yi").cast("double") + lit(0.5)) / lit(n) * lit(180.0)
    val dense = gridCounts(points, res).where(col("x") >= lit(minCount))
      .select(col("xi"), col("yi"), col("x"),
        graft.functions.CellFunctions.cell_id(latC, lonC, lit(res)).as("cell"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
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
