package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Polygon

import graft.core.{CellIndex, Geom, Rasterize, SplitMix64, TileGrid}
import graft.sources.Fixtures

/** The `core` layer: graft.core kernels called directly, without Spark, on
  * inputs made from the workload's page range. Each figure is the median
  * per-call time of five timed repetitions after one untimed one. */
object Kernels {
  @volatile private var sink = 0L

  private def perCallNs(calls: Int)(body: => Long): Double = {
    sink += body
    Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      sink += body
      (System.nanoTime() - t0).toDouble / calls
    })
  }

  def run(firstPage: Long): Map[String, Double] = {
    val n = 1 << 20
    val lat = Array.tabulate(n)(i => Fixtures.pageLat(firstPage + i))
    val lon = Array.tabulate(n)(i => Fixtures.pageLon(firstPage + i))
    val cellIdNs = perCallNs(n) {
      var acc = 0L
      var i = 0
      while (i < n) { acc ^= CellIndex.cellId(lat(i), lon(i), 16); i += 1 }
      acc
    }

    val m = 20000
    val html = Array.tabulate(m)(i => Fixtures.pageHtml(firstPage + i).getBytes(UTF_8))
    val text = Array.tabulate(m)(i => UTF8String.fromString(Fixtures.pageText(firstPage + i)))
    val extractNs = perCallNs(m) {
      var acc = 0L
      var i = 0
      while (i < m) {
        val (la, lo, ok) = Fixtures.extractGeoAndCheckU8(html(i), text(i))
        acc += (if (ok) 1L else 0L) + java.lang.Double.doubleToLongBits(la + lo)
        i += 1
      }
      acc
    }

    val labels = Fixtures.labelGeoms().map(_._1)
    val windows = TileGrid.squareWindows(128, 128, Fixtures.LuxWidth, Fixtures.LuxHeight,
      "whole_overlap").map(_.window)
    val fillUs = perCallNs(windows.size * 20) {
      var acc = 0L
      (1 to 20).foreach(_ => windows.foreach { w =>
        acc += Rasterize.fillPolygons(labels, Fixtures.LuxAffine.forWindow(w),
          w.width, w.height).count(_ != 0)
      })
      acc
    } / 1000.0

    // a 2048-vertex star ring, radii drawn from the seed's page range
    val ring = (0 until 2048).map { k =>
      val a = 2 * math.Pi * k / 2048
      val r = 0.01 * (0.6 + 0.4 * SplitMix64.unitDouble(firstPage + k, 2))
      (6.0 + r * math.cos(a), 50.1 + r * math.sin(a))
    }
    val star = Geom.polygon(ring)
    val simplifyUs = perCallNs(20) {
      var acc = 0L
      (1 to 20).foreach { _ =>
        val s = Geom.simplifyPreserve(star, 2e-4).asInstanceOf[Polygon]
        acc += Geom.chaikin(s).getNumPoints
      }
      acc
    } / 1000.0

    Map("core.cell_id_ns" -> cellIdNs, "core.extract_geo_ns" -> extractNs,
      "core.fill_polygons_us" -> fillUs, "core.simplify_us" -> simplifyUs)
  }
}
