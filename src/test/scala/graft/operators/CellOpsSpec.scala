package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.CellIndex

/** Cover compaction: exact area preservation (expanding the mixed-res
  * result recovers the input cell set exactly), minimality (no complete
  * sibling quad survives at any level), and a hand-built collapse chain. */
class CellOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  test("hand case: one complete quad collapses (recursively), strays stay") {
    import spark.implicits._
    // all 16 res-2 descendants of res-0 cell 3 → collapses two levels to
    // the single res-0 cell; plus a stray res-2 cell 0
    val cells = ((48L until 64L) :+ 0L).toDF("cell")
    val got = CellOps.compactCells(cells, res = 2, minRes = 0).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((3L, 0), (0L, 2)))
  }

  test("fuzzed cover: expansion recovers the input exactly; no complete quad survives") {
    import spark.implicits._
    val rnd = new scala.util.Random(5L)
    val res = 6
    // clustered cells: dense blobs (complete quads exist) + sparse noise
    val blob = for (bx <- 0L until 8L; by <- 0L until 8L)
      yield CellIndex.encode(16L + bx, 24L + by)
    val noise = (0 until 300).map(_ =>
      CellIndex.encode(rnd.nextInt(64).toLong, rnd.nextInt(64).toLong))
    val input = (blob ++ noise).distinct
    val got = CellOps.compactCells(input.toDF("cell"), res, minRes = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    // exact area: expand every (cell, r) to its res-6 descendants
    val expanded = got.flatMap { case (c, r) =>
      val levels = res - r
      (0L until (1L << (2 * levels))).map(off => (c << (2 * levels)) | off)
    }
    assert(expanded.length == expanded.distinct.length, "overlapping cells in output")
    assert(expanded.toSet == input.toSet, "compaction changed the covered area")
    // minimality: no 4 siblings at the same res
    val byParent = got.groupBy { case (c, r) => (c >>> 2, r) }
    assert(byParent.values.forall(_.size < 4), "a complete sibling quad survived")
    // compaction did real work on the blob
    assert(got.length < input.size)
  }

  test("cell_pyramid: every level conserves total mass; parents sum their children") {
    val got = graft.QueryCatalog.queries("cell_pyramid")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val byRes = got.groupBy(_._1._1)
    val totals = byRes.view.mapValues(_.values.sum).toMap
    assert(totals.values.toSet.size == 1, s"mass not conserved across levels: $totals")
    // parent count = sum of its children, for every non-base level
    for (r <- 4 to 7; ((rr, cell), n) <- got if rr == r) {
      val kids = (0L until 4L).map(k => got.getOrElse((r + 1, (cell << 2) | k), 0L)).sum
      assert(kids == n, s"parent ($r, $cell) = $n but children sum $kids")
    }
  }

  test("polygonFill (convex pentagon): agrees with JTS center containment; fills ~the polygon's area") {
    val poly = Seq((-100.123, -40.234), (40.567, -55.111), (120.789, 10.456),
      (10.321, 70.654), (-140.987, 30.999))
    val res = 6
    val got = CellOps.polygonFill(spark, poly, res).collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty)
    // independent check: JTS containment of every bbox-grid cell center
    // (robust predicates — a different implementation family than the
    // scanline crossings)
    val jts = graft.core.Geom.polygon(poly)
    val n = (1L << res).toDouble
    val lons = poly.map(_._1); val lats = poly.map(_._2)
    val x0 = CellIndex.xIndex(lons.min, res); val x1 = CellIndex.xIndex(lons.max, res)
    val y0 = CellIndex.yIndex(lats.max, res); val y1 = CellIndex.yIndex(lats.min, res)
    val want = (for {
      xi <- x0 to x1
      yi <- y0 to y1
      lonC = (xi + 0.5) / n * 360.0 - 180.0
      latC = 90.0 - (yi + 0.5) / n * 180.0
      if jts.contains(graft.core.Geom.factory.createPoint(
        new org.locationtech.jts.geom.Coordinate(lonC, latC)))
    } yield CellIndex.encode(xi, yi)).toSet
    assert(got == want, s"fill disagrees with JTS: extra=${got -- want}, missing=${want -- got}")
    // area sanity: filled-cell area within 15% of the shoelace area
    val ring = poly :+ poly.head
    val shoelace = math.abs(ring.sliding(2).map { case Seq((ax, ay), (bx, by)) =>
      ax * by - bx * ay
    }.sum / 2.0)
    val cellArea = (360.0 / (1L << res)) * (180.0 / (1L << res))
    val filled = got.size * cellArea
    assert(math.abs(filled - shoelace) / shoelace < 0.15,
      s"filled area $filled vs polygon area $shoelace")
  }

  /** Independent JTS robust-containment reference over the bbox grid —
    * a different implementation family than the scanline crossings. */
  private def jtsFill(poly: Seq[(Double, Double)], res: Int): Set[Long] = {
    val jts = graft.core.Geom.polygon(poly)
    val n = (1L << res).toDouble
    val lons = poly.map(_._1); val lats = poly.map(_._2)
    val x0 = CellIndex.xIndex(lons.min, res); val x1 = CellIndex.xIndex(lons.max, res)
    val y0 = CellIndex.yIndex(lats.max, res); val y1 = CellIndex.yIndex(lats.min, res)
    (for {
      xi <- x0 to x1
      yi <- y0 to y1
      lonC = (xi + 0.5) / n * 360.0 - 180.0
      latC = 90.0 - (yi + 0.5) / n * 180.0
      if jts.contains(graft.core.Geom.factory.createPoint(
        new org.locationtech.jts.geom.Coordinate(lonC, latC)))
    } yield CellIndex.encode(xi, yi)).toSet
  }

  test("polygonFill: L-shaped (reflex) AOI matches JTS containment; convex fill would over-fill") {
    val res = 6
    val poly = graft.QueryCatalog.concaveL
    val got = CellOps.polygonFill(spark, poly, res).collect().map(_.getLong(0)).toSet
    val want = jtsFill(poly, res)
    assert(got.nonEmpty)
    assert(got == want, s"fill disagrees with JTS: extra=${got -- want}, missing=${want -- got}")
    // the reflex notch is real: the bbox-sized convex hull has strictly
    // more cells than the L (sanity that the fixture exercises concavity)
    val hull = Seq(poly(0), poly(1), (poly(1)._1, poly(4)._2), (poly(0)._1, poly(4)._2))
    val hullCells = jtsFill(hull, res)
    assert(got.size < hullCells.size, "fixture is not meaningfully concave")
  }

  test("polygonFill: star-shaped AOI (5 reflex vertices) matches JTS containment") {
    val res = 6
    // 5-point star: alternating outer/inner radii, angles offset 7° so no
    // edge is axis-parallel and no center sits on a boundary line
    val (cx, cy) = (-10.3, 5.7)
    val poly = (0 until 10).map { k =>
      val r = if (k % 2 == 0) 60.0 else 25.0
      val th = math.toRadians(7.0 + 36.0 * k)
      (cx + r * math.cos(th), cy + r * math.sin(th))
    }
    val got = CellOps.polygonFill(spark, poly, res).collect().map(_.getLong(0)).toSet
    val want = jtsFill(poly, res)
    assert(got.nonEmpty)
    assert(got == want, s"fill disagrees with JTS: extra=${got -- want}, missing=${want -- got}")
  }

  test("winding normalization: clockwise rings fill identically (not empty)") {
    val res = 6
    val ccwConvex = CellOps.polygonFill(spark, pipPentagonLocal, res)
      .collect().map(_.getLong(0)).toSet
    val cwConvex = CellOps.polygonFill(spark, pipPentagonLocal.reverse, res)
      .collect().map(_.getLong(0)).toSet
    assert(ccwConvex.nonEmpty && ccwConvex == cwConvex)
    val poly = graft.QueryCatalog.concaveL
    val ccwC = CellOps.polygonFill(spark, poly, res).collect().map(_.getLong(0)).toSet
    val cwC = CellOps.polygonFill(spark, poly.reverse, res).collect().map(_.getLong(0)).toSet
    assert(ccwC.nonEmpty && ccwC == cwC)
  }

  /** A ring whose vertices sit on res-4 cell centers: horizontal and
    * vertical edges along center rows and columns, one cell-diagonal edge
    * through a center, a reflex peak notch and a reflex valley notch with
    * interior on both sides of their tips, and vertices where the boundary
    * passes straight through a row. Every on-boundary center is an exact
    * tie, so the fill must drop it like JTS does. */
  private val tieRes = 4
  private def tieRing: Seq[(Double, Double)] = {
    val n = (1L << tieRes).toDouble
    // (u, v) with u = column offset, v = rows upward from the bottom row
    Seq((2, 0), (4, 0), (5, 3), (6, 0), (12, 0), (12, 4), (10, 6), (10, 9),
      (7, 9), (6, 6), (5, 9), (2, 9)).map { case (u, v) =>
      ((u + 2 + 0.5) / n * 360.0 - 180.0, 90.0 - (12 - v + 0.5) / n * 180.0)
    }
  }

  test("boundary ties: centers on edges and vertices are excluded, as JTS contains") {
    val got = CellOps.polygonFill(spark, tieRing, tieRes).collect().map(_.getLong(0)).toSet
    val want = jtsFill(tieRing, tieRes)
    assert(got == want, s"fill disagrees with JTS: extra=${got -- want}, missing=${want -- got}")
    // the fixture really has ties: 12 vertices plus row, column and
    // diagonal edge centers lie exactly on the boundary
    val n = (1L << tieRes).toDouble
    val boundary = graft.core.Geom.polygon(tieRing).getBoundary
    val ties = for (xi <- 0 until (1 << tieRes); yi <- 0 until (1 << tieRes)
      if boundary.intersects(graft.core.Geom.factory.createPoint(
        new org.locationtech.jts.geom.Coordinate((xi + 0.5) / n * 360.0 - 180.0,
          90.0 - (yi + 0.5) / n * 180.0)))) yield (xi, yi)
    assert(ties.size >= 30, s"only ${ties.size} on-boundary centers")
  }

  test("boundary ties: insidePredicate rejects points exactly on edges and vertices") {
    import spark.implicits._
    val ring = tieRing
    val closed = ring :+ ring.head
    val onVertex = ring
    val onEdge = closed.sliding(2).map { case Seq((ax, ay), (bx, by)) =>
      ((ax + bx) / 2, (ay + by) / 2) }.toSeq
    val (cx0, cy0) = ring(0); val (cx1, cy1) = ring(6) // (2,0) and (10,6)
    val inside = Seq(((cx0 + cx1) / 2 + 1e-3, (cy0 + cy1) / 2 + 1e-3))
    val pts = (onVertex ++ onEdge ++ inside).zipWithIndex.map { case ((lon, lat), k) =>
      (k, lat, lon) }
    val jts = graft.core.Geom.polygon(ring)
    val want = pts.filter { case (_, lat, lon) => jts.contains(graft.core.Geom.factory
      .createPoint(new org.locationtech.jts.geom.Coordinate(lon, lat))) }.map(_._1).toSet
    assert(want == Set(pts.length - 1), s"fixture: only the last point is inside, JTS says $want")
    val got = pts.toDF("k", "lat", "lon")
      .where(CellOps.insidePredicate(ring, col("lat"), col("lon")))
      .collect().map(_.getInt(0)).toSet
    assert(got == want, s"on-boundary points accepted: ${(got -- want).map(pts(_))}")
  }

  private def pipPentagonLocal = Seq((-100.123, -40.234), (40.567, -55.111),
    (120.789, 10.456), (10.321, 70.654), (-140.987, 30.999))

  /** JTS audit of a classified cover: every interior-marked cell must have
    * all 4 corners AND its center robustly contained (different
    * implementation family than the margin-guarded scanline intervals),
    * and every cell of the JTS center-fill must appear in the candidate
    * set (no inside area escapes the cover). */
  private def auditClassify(poly: Seq[(Double, Double)], res: Int): Unit = {
    val rows = CellOps.coverClassify(spark, poly, res).collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
    val jts = graft.core.Geom.polygon(poly)
    val n = (1L << res).toDouble
    def pt(lon: Double, lat: Double) = graft.core.Geom.factory.createPoint(
      new org.locationtech.jts.geom.Coordinate(lon, lat))
    for ((cell, interior) <- rows if interior) {
      val (xi, yi) = CellIndex.decode(cell)
      val (lo, hi) = (xi / n * 360.0 - 180.0, (xi + 1) / n * 360.0 - 180.0)
      val (top, bot) = (90.0 - yi / n * 180.0, 90.0 - (yi + 1) / n * 180.0)
      for ((x, y) <- Seq((lo, bot), (lo, top), (hi, bot), (hi, top),
        ((lo + hi) / 2, (top + bot) / 2)))
        assert(jts.contains(pt(x, y)),
          s"interior cell ($xi,$yi) has corner/center ($x,$y) outside")
    }
    val cand = rows.map(_._1).toSet
    val missing = jtsFill(poly, res) -- cand
    assert(missing.isEmpty, s"JTS-inside centers outside the candidate cover: $missing")
    assert(rows.count(_._2) * 2 > rows.length,
      "interior cells should dominate the cover at this res (sliver claim)")
  }

  test("coverClassify: L-shape and star covers are sound (JTS corner audit) and interior-dominated") {
    auditClassify(graft.QueryCatalog.concaveL, res = 7)
    val (cx, cy) = (-10.3, 5.7)
    val star = (0 until 10).map { k =>
      val r = if (k % 2 == 0) 60.0 else 25.0
      val th = math.toRadians(7.0 + 36.0 * k)
      (cx + r * math.cos(th), cy + r * math.sin(th))
    }
    auditClassify(star, res = 7)
  }

  test("moranI: gradient reads positive, checkerboard negative; components exactly replayed") {
    import spark.implicits._
    val res = 5; val n = (1L << res).toDouble
    def pt(xi: Int, yi: Int) = (90.0 - (yi + 0.5) / n * 180.0, (xi + 0.5) / n * 360.0 - 180.0)
    // smooth gradient: count = xi across an 8×8 block → neighbors similar
    val smooth = for { xi <- 1 to 8; yi <- 1 to 8; _ <- 1 to xi } yield (xi, yi)
    // vertical stripes: 9 on even columns, 1 on odd → most queen
    // neighbors (dx=±1, any dy) dissimilar; a checkerboard would NOT do —
    // its diagonal neighbors are same-colored and nearly cancel the signal
    val checker = for { xi <- 1 to 8; yi <- 1 to 8
      _ <- 1 to (if (xi % 2 == 0) 9 else 1) } yield (xi, yi)
    def run(cells: Seq[(Int, Int)]) = {
      val r = CellOps.moranI(cells.map { case (x, y) => pt(x, y) }.toDF("lat", "lon"), res).head()
      spark.catalog.clearCache()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // plain-Scala replay of the exact integer components
    def replay(cells: Seq[(Int, Int)]) = {
      val cnt = cells.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val nc = cnt.size.toLong; val s = cnt.values.sum
      val d = cnt.view.mapValues(x => nc * x - s).toMap
      val offs = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))
      val prods = for { ((xi, yi), da) <- d.toSeq; (dx, dy) <- offs
        db <- d.get((xi + dx, yi + dy)) } yield da * db
      (nc, prods.size.toLong, prods.sum, d.values.map(v => v * v).sum)
    }
    def moran(t: (Long, Long, Long, Long)) =
      t._1.toDouble * t._3 / (t._2.toDouble * t._4)
    val sm = run(smooth); val ch = run(checker)
    assert(sm == replay(smooth), s"smooth components diverge: $sm vs ${replay(smooth)}")
    assert(ch == replay(checker), s"checker components diverge: $ch vs ${replay(checker)}")
    assert(moran(sm) > 0.2, s"gradient should autocorrelate positively: $sm → ${moran(sm)}")
    assert(moran(ch) < -0.2, s"checkerboard should read negative: $ch → ${moran(ch)}")
  }

  test("cellClusters: adjacent dense cells merge (diagonals too), sparse cells drop, min-id labels") {
    import spark.implicits._
    val res = 5; val n = (1L << res).toDouble
    def pts(xi: Int, yi: Int, c: Int) = Seq.fill(c)(
      (90.0 - (yi + 0.5) / n * 180.0, (xi + 0.5) / n * 360.0 - 180.0))
    // blob A: orthogonal link (2,2)-(3,2) plus a DIAGONAL link (3,2)-(4,3);
    // blob B: isolated dense cell; noise: a cell under the density floor
    val data = pts(2, 2, 3) ++ pts(3, 2, 4) ++ pts(4, 3, 3) ++
      pts(10, 10, 5) ++ pts(20, 20, 2)
    val got = CellOps.cellClusters(data.toDF("lat", "lon"), res, minCount = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    spark.catalog.clearCache()
    val repA = Seq(CellIndex.encode(2, 2), CellIndex.encode(3, 2),
      CellIndex.encode(4, 3)).min
    val repB = CellIndex.encode(10, 10)
    assert(got == Set((repA, 3L, 10L), (repB, 1L, 5L)),
      s"cluster extraction wrong: $got")
  }

  test("cellFocal: 3×3 sums/counts over occupied cells only; isolated cells see themselves") {
    import spark.implicits._
    val res = 5; val n = (1L << res).toDouble
    def pt(xi: Int, yi: Int, c: Int) = Seq.fill(c)(
      (90.0 - (yi + 0.5) / n * 180.0, (xi + 0.5) / n * 360.0 - 180.0))
    // a 3-cell row with distinct masses + one isolated far cell
    val data = pt(2, 2, 1) ++ pt(3, 2, 2) ++ pt(4, 2, 4) ++ pt(9, 9, 5)
    val got = CellOps.cellFocal(data.toDF("lat", "lon"), res).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    spark.catalog.clearCache()
    assert(got(CellIndex.encode(2, 2)) == ((1L, 3L, 2L)))
    assert(got(CellIndex.encode(3, 2)) == ((2L, 7L, 3L)))
    assert(got(CellIndex.encode(4, 2)) == ((4L, 6L, 2L)))
    assert(got(CellIndex.encode(9, 9)) == ((5L, 5L, 1L)), s"isolated cell: $got")
    assert(got.size == 4)
  }

  test("pip_cell_join: equals the brute-force strict-interior scan; exact tests hit only the sliver") {
    val dir = "/root/testdata/sf0.001"
    val poly = graft.QueryCatalog.concaveL
    val got = graft.QueryCatalog.queries("pip_cell_join")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    // brute force: the same strict-interior predicate over ALL docs (the
    // oracle's formula), no cell machinery anywhere
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        (lit(-85.0) + (col("doc_id") * lit(104729L) % lit(17000L)).cast("double") / lit(100.0)).as("lat"),
        (lit(-180.0) + (col("doc_id") * lit(7919L) % lit(36000L)).cast("double") / lit(100.0)).as("lon"))
    val want = docs.where(CellOps.insidePredicate(poly, col("lat"), col("lon")))
      .collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && got == want,
      s"cell join diverges: extra=${(got -- want).take(5)}, missing=${(want -- got).take(5)}")
    // the scale claim: most accepted points ride the interior fast path
    // (no exact predicate), only the boundary sliver pays the crossing test
    val cover = CellOps.coverClassify(spark, poly, res = 7)
    val byKind = docs
      .withColumn("cell", graft.functions.CellFunctions.cell_id(col("lat"), col("lon"), lit(7)))
      .join(broadcast(cover), Seq("cell"))
      .groupBy("interior").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(byKind.getOrElse(true, 0L) > 4 * byKind.getOrElse(false, 0L),
      s"interior fast-path should dominate: $byKind")
  }
}
