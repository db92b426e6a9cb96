package graft.core

import org.locationtech.jts.geom.{Geometry, LineString, Polygon}

/** Scanline rasterization of polygons / lines into a window's uint8 grid,
  * GDAL-parity (`rasterio.features.rasterize`, all_touched=False,
  * default_value=255 — reference: satproc/masks.py:204-212).
  *
  * GDAL rule (gdal/alg/llrasterize.cpp GDALdllImageFilledPolygon): for each
  * row, intersect polygon edges with the horizontal line through the pixel
  * centers (y = row + 0.5 in pixel space), sort crossings, and burn pixels
  * whose center x lies in [x_k, x_{k+1}) for even k.
  */
object Rasterize {

  /** Burn polygons (world coords) into a (w×h) byte grid using the window's
    * affine transform. Even-odd fill over all rings of all polygons. */
  def fillPolygons(geoms: Seq[Geometry], t: Affine, w: Int, h: Int,
                   value: Byte = 255.toByte): Array[Byte] = {
    val out = new Array[Byte](w * h)
    geoms.foreach(g => burnGeom(g, t, w, h, value, out))
    out
  }

  private def burnGeom(g: Geometry, t: Affine, w: Int, h: Int, value: Byte,
                       out: Array[Byte]): Unit = g match {
    case p: Polygon =>
      val rings = (0 until p.getNumInteriorRing).map(p.getInteriorRingN) :+ p.getExteriorRing
      burnRings(rings, t, w, h, value, out)
    case other =>
      var i = 0
      while (i < other.getNumGeometries) {
        burnGeom(other.getGeometryN(i), t, w, h, value, out)
        i += 1
      }
  }

  /** Sorted x positions where the closed `rings` cross the horizontal line
    * y = `yc` — the one polygon-interior kernel (Raptor-style: boundary
    * crossings per row, turned into intervals by the caller). An edge
    * counts iff its endpoints straddle `yc` half-open (y0 <= yc < y1 or
    * y1 <= yc < y0), so a vertex shared by two edges counts once, or twice
    * at a local minimum, and horizontal edges never count; the count is
    * therefore even and a point off the boundary is inside iff it lies
    * between crossings 2k and 2k+1 (even-odd, holes included). */
  def rowCrossings(rings: Seq[Array[(Double, Double)]], yc: Double): Array[Double] = {
    var xs = new Array[Double](8)
    var n = 0
    rings.foreach { coords =>
      var i = 0
      while (i < coords.length - 1) {
        val (x0, y0) = coords(i)
        val (x1, y1) = coords(i + 1)
        if ((y0 <= yc && y1 > yc) || (y1 <= yc && y0 > yc)) {
          if (n == xs.length) xs = java.util.Arrays.copyOf(xs, 2 * n)
          xs(n) = x0 + (yc - y0) / (y1 - y0) * (x1 - x0)
          n += 1
        }
        i += 1
      }
    }
    val out = java.util.Arrays.copyOf(xs, n)
    java.util.Arrays.sort(out)
    out
  }

  /** Even-odd scanline fill: all rings of ONE polygon participate together,
    * so holes un-fill (GDAL passes all rings of a polygon as one part set).
    * Row `row` samples y = row + 0.5 and burns the pixels whose center x
    * lies in [xA, xB) for each crossing pair. */
  private def burnRings(rings: Seq[LineString], t: Affine, w: Int, h: Int,
                        value: Byte, out: Array[Byte]): Unit = {
    // ring coords → pixel space
    val parts: Seq[Array[(Double, Double)]] = rings.map { r =>
      r.getCoordinates.map(c => t.invert(c.x, c.y))
    }
    var row = 0
    while (row < h) {
      val xs = rowCrossings(parts, row + 0.5)
      var k = 0
      while (k + 1 < xs.length) {
        var col = math.max(math.ceil(xs(k) - 0.5).toInt, 0)
        val stop = math.min(math.ceil(xs(k + 1) - 0.5).toInt, w)
        while (col < stop) { out(row * w + col) = value; col += 1 }
        k += 2
      }
      row += 1
    }
  }

  /** Burn line strings (polygon boundaries) — Bresenham over the pixel grid,
    * GDAL line-burn parity for all_touched=False uses the integer DDA of
    * pixel coordinates (reference: satproc/masks.py:212 rasterizes
    * `poly.boundary` MultiLineStrings). */
  def burnLines(lines: Seq[LineString], t: Affine, w: Int, h: Int,
                value: Byte = 255.toByte): Array[Byte] = {
    val out = new Array[Byte](w * h)
    lines.foreach { ls =>
      val coords = ls.getCoordinates.map(c => t.invert(c.x, c.y))
      var i = 0
      while (i < coords.length - 1) {
        drawLine(coords(i), coords(i + 1), w, h, value, out)
        i += 1
      }
    }
    out
  }

  /** Collect all boundary LineStrings from polygons, flattening
    * MultiLineString boundaries (reference: masks.py:225-232). */
  def boundaries(geoms: Seq[Geometry]): Seq[LineString] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[LineString]
    def rec(g: Geometry): Unit = g match {
      case p: Polygon =>
        buf += p.getExteriorRing
        (0 until p.getNumInteriorRing).foreach(i => buf += p.getInteriorRingN(i))
      case ls: LineString => buf += ls
      case other =>
        (0 until other.getNumGeometries).foreach(i => rec(other.getGeometryN(i)))
    }
    geoms.foreach(rec)
    buf.toSeq
  }

  private def drawLine(p0: (Double, Double), p1: (Double, Double),
                       w: Int, h: Int, value: Byte, out: Array[Byte]): Unit = {
    var x0 = math.floor(p0._1).toInt; var y0 = math.floor(p0._2).toInt
    val x1 = math.floor(p1._1).toInt; val y1 = math.floor(p1._2).toInt
    val dx = math.abs(x1 - x0); val sx = if (x0 < x1) 1 else -1
    val dy = -math.abs(y1 - y0); val sy = if (y0 < y1) 1 else -1
    var err = dx + dy
    var continue = true
    while (continue) {
      if (x0 >= 0 && x0 < w && y0 >= 0 && y0 < h) out(y0 * w + x0) = value
      if (x0 == x1 && y0 == y1) continue = false
      else {
        val e2 = 2 * err
        if (e2 >= dy) { err += dy; x0 += sx }
        if (e2 <= dx) { err += dx; y0 += sy }
      }
    }
  }
}
