package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TileGrid
import graft.sources.Fixtures

/** Pins every byte of the flagship's density chips. The expected chips are
  * rebuilt in plain Scala from the page generator and the tile grid alone:
  * a page counts in every 128-pixel window whose half-open pixel range
  * [off, off + size) holds the page's pixel (a pixel owns
  * [edge, edge + pixel size)), and a chip's bytes are the counts rescaled
  * to 1..255 over (0, max). The extent masks are rebuilt from the lux
  * labels with JTS: a pixel is 255 iff some label contains its center.
  * No engine code computes the expectation. */
class PagesChipBytesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  private val nPages = 20000

  private case class Chip(nPages: Long, badText: Long, img: Seq[Byte])

  private lazy val labels = Fixtures.labelGeoms()

  /** Pixel-center containment over the window, in world coordinates. */
  private def jtsMask(win: graft.core.Window): Seq[Byte] =
    for (y <- 0 until win.height; x <- 0 until win.width) yield {
      val center = graft.core.Geom.factory.createPoint(new org.locationtech.jts.geom.Coordinate(
        Fixtures.LuxOriginX + (win.colOff + x + 0.5) * Fixtures.LuxPxX,
        Fixtures.LuxOriginY + (win.rowOff + y + 0.5) * Fixtures.LuxPxY))
      if (labels.exists(_._1.contains(center))) 255.toByte else 0.toByte
    }

  private lazy val grid = TileGrid.squareWindows(128, 128, Fixtures.LuxWidth,
    Fixtures.LuxHeight, "whole_overlap")

  private lazy val expected: Map[(Int, Int), Chip] = {
    val counts = grid.map(c => new Array[Int](c.window.width * c.window.height))
    for (k <- 0L until nPages.toLong) {
      val px = math.floor((Fixtures.pageLon(k) - Fixtures.LuxOriginX) / Fixtures.LuxPxX).toInt
      val py = math.floor((Fixtures.pageLat(k) - Fixtures.LuxOriginY) / Fixtures.LuxPxY).toInt
      for ((c, w) <- grid.zipWithIndex) {
        val x = px - c.window.colOff
        val y = py - c.window.rowOff
        if (x >= 0 && x < c.window.width && y >= 0 && y < c.window.height)
          counts(w)(y * c.window.width + x) += 1
      }
    }
    grid.zip(counts).filter(_._2.exists(_ > 0)).map { case (c, n) =>
      val mx = n.max
      val img = n.map(v => ((v.toDouble / mx) * 254.0 + 1.0).toInt.toByte)
      (c.i, c.j) -> Chip(n.map(_.toLong).sum, 0L, img.toSeq)
    }.toMap
  }

  for (parts <- Seq(1, 5)) test(s"density chip bytes equal a plain-Scala rebuild ($parts partitions)") {
    val rows = PagesTiling.extractChips(spark, Fixtures.pages(spark, nPages, partitions = parts),
        Fixtures.luxMeta(), labels = Some(labels.map { case (g, c) => (graft.core.Geom.toWkb(g), c) }))
      .collect()
    val got = rows.map { r =>
        (r.getAs[Int]("i"), r.getAs[Int]("j")) -> Chip(r.getAs[Long]("n_pages"),
          r.getAs[Long]("bad_text"), r.getAs[Array[Byte]]("img").toSeq)
      }
    assert(got.length == got.map(_._1).distinct.length, "one chip per tile")
    assert(got.map(_._1).toSet == expected.keySet)
    for ((tile, chip) <- got) {
      val want = expected(tile)
      assert(chip.nPages == want.nPages && chip.badText == want.badText, s"tile $tile")
      assert(chip.img == want.img, s"tile $tile: img bytes differ")
    }
    val windows = grid.map(c => (c.i, c.j) -> c.window).toMap
    var burned = 0
    for (r <- rows) {
      val tile = (r.getAs[Int]("i"), r.getAs[Int]("j"))
      val mask = r.getAs[Array[Byte]]("extent_mask").toSeq
      assert(mask == jtsMask(windows(tile)), s"tile $tile: extent_mask bytes differ")
      burned += mask.count(_ != 0)
    }
    assert(burned > 0, "no chip's window meets a label")
  }
}
