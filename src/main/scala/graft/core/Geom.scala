package graft.core

import org.locationtech.jts.geom._
import org.locationtech.jts.geom.util.GeometryFixer
import org.locationtech.jts.io.{WKBReader, WKBWriter}
import org.locationtech.jts.operation.union.UnaryUnionOp
import org.locationtech.jts.simplify.TopologyPreservingSimplifier

/** JTS helpers: WKB codec (geometry travels through Catalyst as BinaryType),
  * union/simplify/chaikin ports of the reference's shapely calls. */
object Geom {
  val factory = new GeometryFactory()

  // WKBReader/Writer are not thread-safe; cheap to construct per call-site
  def toWkb(g: Geometry): Array[Byte] = new WKBWriter().write(g)
  def fromWkb(b: Array[Byte]): Geometry = new WKBReader(factory).read(b)

  def polygon(coords: Seq[(Double, Double)]): Polygon = {
    val closed = if (coords.head == coords.last) coords else coords :+ coords.head
    factory.createPolygon(closed.map { case (x, y) => new Coordinate(x, y) }.toArray)
  }

  def box(minx: Double, miny: Double, maxx: Double, maxy: Double): Polygon =
    polygon(Seq((minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy)))

  /** shapely unary_union (reference: satproc/chips.py:368,
    * postprocess/polygonize.py:120-124). */
  def unaryUnion(geoms: Seq[Geometry]): Geometry =
    if (geoms.isEmpty) factory.createGeometryCollection()
    else UnaryUnionOp.union(scala.jdk.CollectionConverters.SeqHasAsJava(geoms).asJava)

  /** shapely buffer(0) cleanup (reference: polygonize.py:108). */
  def makeValid(g: Geometry): Geometry =
    if (g.isValid) g else GeometryFixer.fix(g)

  /** shapely simplify(tol, preserve_topology=True)
    * (reference: postprocess/generalize.py:91-94). */
  def simplifyPreserve(g: Geometry, tol: Double): Geometry =
    TopologyPreservingSimplifier.simplify(g, tol)

  /** Chaikin corner-cutting on the exterior ring only — holes are dropped,
    * a documented quirk of the reference (postprocess/generalize.py:102-114).
    * Direct port of the vectorized numpy blend:
    *   L = coords.repeat(2); R = [L0, L2, L1, L4, L3, ..., L_last];
    *   coords = 0.75·L + 0.25·R
    */
  def chaikin(p: Polygon, refinements: Int = 5): Polygon = {
    var coords: Array[(Double, Double)] =
      p.getExteriorRing.getCoordinates.map(c => (c.x, c.y))
    var it = 0
    while (it < refinements) {
      val n = coords.length
      val L = new Array[(Double, Double)](2 * n)
      var i = 0
      while (i < n) { L(2 * i) = coords(i); L(2 * i + 1) = coords(i); i += 1 }
      val m = L.length
      val R = new Array[(Double, Double)](m)
      R(0) = L(0)
      // R[2::2] = L[1:-1:2]
      var k = 2; var s = 1
      while (k < m) { R(k) = L(s); k += 2; s += 2 }
      // R[1:-1:2] = L[2::2]
      k = 1; s = 2
      while (k < m - 1 && s < m) { R(k) = L(s); k += 2; s += 2 }
      R(m - 1) = L(m - 1)
      val next = new Array[(Double, Double)](m)
      i = 0
      while (i < m) {
        next(i) = (L(i)._1 * 0.75 + R(i)._1 * 0.25, L(i)._2 * 0.75 + R(i)._2 * 0.25)
        i += 1
      }
      coords = next
      it += 1
    }
    polygon(coords.toSeq)
  }

  /** Reproject a geometry between epsg:4326 and epsg:3857 (identity when
    * CRS match — reference: satproc/utils.py:242-268). */
  def reproject(g: Geometry, fromCrs: String, toCrs: String): Geometry = {
    if (fromCrs == toCrs) return g
    val fn: (Double, Double) => (Double, Double) = (fromCrs.toLowerCase, toCrs.toLowerCase) match {
      case ("epsg:4326", "epsg:3857") => (x, y) => Mercator.toMercator(x, y)
      case ("epsg:3857", "epsg:4326") => (x, y) => Mercator.toLonLat(x, y)
      case other => throw new IllegalArgumentException(s"unsupported CRS pair $other")
    }
    val g2 = g.copy()
    g2.apply(new CoordinateFilter {
      override def filter(c: Coordinate): Unit = {
        val (x, y) = fn(c.x, c.y)
        c.x = x; c.y = y
      }
    })
    g2.geometryChanged()
    g2
  }

  /** Multipart → single parts (reference: polygonize.py:131-140). */
  def singleParts(g: Geometry): Seq[Geometry] = g match {
    case p: Polygon => Seq(p)
    case mp: MultiPolygon => (0 until mp.getNumGeometries).map(mp.getGeometryN)
    case gc: GeometryCollection => (0 until gc.getNumGeometries).flatMap(i => singleParts(gc.getGeometryN(i)))
    case other => Seq(other)
  }
}
