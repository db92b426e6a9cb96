package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.Coordinate

/** Property parity for the scanline rasterizer: GDAL's all_touched=False
  * rule is "burn the pixel iff its CENTER is inside the polygon" — checked
  * against JTS point-in-polygon for every pixel of seeded random convex
  * polygons, star-shaped (concave) rings and rings with a hole.
  * (Centers exactly on an edge are measure-zero with random vertices.) */
class RasterizePropertySpec extends AnyFunSuite {

  /** A star-shaped ring around (cx, cy): `n` vertices at increasing angles,
    * each at its own random radius in [rMin, rMax]. */
  private def star(rng: scala.util.Random, cx: Double, cy: Double, n: Int,
                   rMin: Double, rMax: Double): Seq[(Double, Double)] = {
    val phase = rng.nextDouble() * 2 * math.Pi
    (0 until n).map { k =>
      val r = rMin + rng.nextDouble() * (rMax - rMin)
      val th = phase + 2 * math.Pi * (k + 0.2 + 0.6 * rng.nextDouble()) / n
      (cx + r * math.cos(th), cy + r * math.sin(th))
    }
  }

  test("fill equals pixel-center containment for random convex, star-shaped and holed polygons") {
    val rng = new scala.util.Random(11)
    val t = Affine(1, 0, 0, 0, 1, 0) // pixel space = world space
    val W = 40; val H = 40
    def check(label: String, poly: org.locationtech.jts.geom.Polygon): Unit =
      if (poly.isValid && poly.getArea > 1) {
        val mask = Rasterize.fillPolygons(Seq(poly), t, W, H)
        var mismatches = 0
        for (y <- 0 until H; x <- 0 until W) {
          val inside = poly.contains(Geom.factory.createPoint(
            new Coordinate(x + 0.5, y + 0.5)))
          val burned = mask(y * W + x) != 0
          if (inside != burned) mismatches += 1
        }
        assert(mismatches == 0, s"$label: $mismatches center/burn mismatches")
      }
    for (trial <- 1 to 50) {
      // random convex polygon: sort random points around their centroid
      val n = 3 + rng.nextInt(6)
      val pts = Seq.fill(n)((2 + rng.nextDouble() * (W - 4), 2 + rng.nextDouble() * (H - 4)))
      val cx = pts.map(_._1).sum / n; val cy = pts.map(_._2).sum / n
      val hull = pts.sortBy { case (x, y) => math.atan2(y - cy, x - cx) }
      check(s"convex trial $trial", Geom.polygon(hull))
    }
    // concave: star-shaped rings, 5-34 vertices, radii 3..18 around the middle
    val rings = (1 to 40).map(_ => star(rng, 20.0 + rng.nextDouble(), 20.0 + rng.nextDouble(),
      5 + rng.nextInt(30), 3.0, 18.0))
    for ((ring, k) <- rings.zipWithIndex) check(s"star trial $k", Geom.polygon(ring))
    // holes: a star-shaped shell with a smaller star-shaped hole inside it
    for (trial <- 1 to 20) {
      val (cx, cy) = (20.0 + rng.nextDouble(), 20.0 + rng.nextDouble())
      val shell = star(rng, cx, cy, 8 + rng.nextInt(20), 12.0, 18.0)
      val hole = star(rng, cx, cy, 3 + rng.nextInt(10), 3.0, 9.0)
      def lr(r: Seq[(Double, Double)]) = Geom.factory.createLinearRing(
        (r :+ r.head).map { case (x, y) => new Coordinate(x, y) }.toArray)
      val poly = Geom.factory.createPolygon(lr(shell), Array(lr(hole)))
      assert(poly.isValid, s"hole trial $trial: fixture ring invalid")
      check(s"hole trial $trial", poly)
    }
  }

  test("multi-polygon fill is the union of individual fills") {
    val t = Affine(1, 0, 0, 0, 1, 0)
    val a = Geom.polygon(Seq((1.0, 1.0), (5.0, 1.0), (5.0, 5.0), (1.0, 5.0)))
    val b = Geom.polygon(Seq((6.0, 6.0), (9.0, 6.0), (9.0, 9.0), (6.0, 9.0)))
    val both = Rasterize.fillPolygons(Seq(a, b), t, 12, 12)
    val ua = Rasterize.fillPolygons(Seq(a), t, 12, 12)
    val ub = Rasterize.fillPolygons(Seq(b), t, 12, 12)
    val union = ua.zip(ub).map { case (p, q) => if (p != 0 || q != 0) 255.toByte else 0.toByte }
    assert(both.sameElements(union))
  }

  test("line burn covers every cell a ring vertex lies in") {
    val t = Affine(1, 0, 0, 0, 1, 0)
    val poly = Geom.polygon(Seq((2.3, 2.7), (8.9, 3.1), (7.2, 8.8), (3.1, 7.4)))
    val burned = Rasterize.burnLines(Rasterize.boundaries(Seq(poly)), t, 12, 12)
    poly.getExteriorRing.getCoordinates.foreach { c =>
      val x = math.floor(c.x).toInt; val y = math.floor(c.y).toInt
      assert(burned(y * 12 + x) != 0, s"vertex cell ($x,$y) not burned")
    }
  }
}
