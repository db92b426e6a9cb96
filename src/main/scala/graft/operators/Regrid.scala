package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.TileGrid
import graft.sources.Model.Tile

/** Re-cut a tile-chunked raster into a new sliding-window grid. One
  * shuffle: flatMap each source tile into per-target fragments keyed by the
  * target tile, then groupBy-assemble. Retile (gdal_retile.py parity,
  * reference: postprocess/polygonize.py:143-164) is [[regrid]] with
  * size = step in "exact" mode: fragment volume equals the raster size —
  * no amplification — so it scales linearly at 100 TB. */
object Regrid {

  case class Frag(raster_id: String, ti: Int, tj: Int, tc: Int, tr: Int,
                  tw: Int, th: Int, x0: Int, y0: Int, fw: Int, fh: Int,
                  pixels: Array[Array[Float]])

  /** General re-gridding to ANY sliding-window grid (size, step, mode —
    * including overlapping whole_overlap grids): the CLI's bridge from a
    * stored tile table to the grid a tool was asked to run on. Overlapping
    * targets are computed arithmetically per source tile (main grid:
    * index-range intersection; the ≤3 whole_overlap extra groups: direct
    * overlap tests against their fixed offsets) — no target-list broadcast,
    * fragment volume = raster × overlap factor. */
  def regrid(spark: SparkSession, tiles: Dataset[Tile], rasterW: Int, rasterH: Int,
             size: Int, step: Int, mode: String): Dataset[Tile] = {
    import spark.implicits._
    require(step <= size, "step > size would leave gaps")
    val whole = mode == "whole" || mode == "whole_overlap"
    // python range(0, end, step) counts of the MAIN grid (TileGrid parity)
    def nMain(extent: Int): Int = {
      val end = if (whole) extent - size else extent
      if (end <= 0) 0 else (end + step - 1) / step
    }
    val nI = nMain(rasterH); val nJ = nMain(rasterW)
    val hasExtras = mode == "whole_overlap" && (rasterH % step != 0 || rasterW % step != 0)
    // When the main grid is empty in a dimension (raster dim <= tile size)
    // but whole_overlap extras exist, TileGrid.slidingWindows indexes the
    // extras at lastPos+1 = 1 and can emit DUPLICATE (i, j) keys (bottom-row
    // cell and corner both land at (1, 1)) — windows that cannot be
    // reassembled by key. Reject rather than silently mis-index.
    require(!hasExtras || (nI > 0 && nJ > 0),
      s"whole_overlap regrid needs a non-empty main grid (raster ${rasterW}x$rasterH, " +
        s"size $size, step $step): the extras' (i,j) indices collide when the main grid is empty")
    // whole_overlap extras (TileGrid.slidingWindows:91-106): a right column
    // at col W-size (j index nJ), a bottom row at row H-size (i index nI),
    // and the corner (nI, nJ)
    val extraCol = rasterW - size; val extraRow = rasterH - size

    val frags = tiles.flatMap { t =>
      val y0 = t.row_off; val y1 = t.row_off + t.height
      val x0 = t.col_off; val x1 = t.col_off + t.width
      def mainRange(lo: Int, hi: Int, n: Int): Range = {
        val first = math.max(0, math.ceil((lo - size + 1).toDouble / step).toInt)
        val last = math.min(n - 1, (hi - 1) / step)
        first to last
      }
      def clipDim(off: Int, extent: Int): Int =
        if (whole) size else math.min(size, extent - off)
      val mainTargets = for {
        ti <- mainRange(y0, y1, nI); tj <- mainRange(x0, x1, nJ)
      } yield (ti, tj, tj * step, ti * step,
        clipDim(tj * step, rasterW), clipDim(ti * step, rasterH))
      val extraTargets = if (!hasExtras) Seq.empty else {
        val col = (0 until nI).filter(ti => x0 < extraCol + size && x1 > extraCol &&
            ti * step < y1 && ti * step + size > y0)
          .map(ti => (ti, nJ, extraCol, ti * step, size, size))
        val row = (0 until nJ).filter(tj => y0 < extraRow + size && y1 > extraRow &&
            tj * step < x1 && tj * step + size > x0)
          .map(tj => (nI, tj, tj * step, extraRow, size, size))
        val corner = if (x1 > extraCol && y1 > extraRow &&
            x0 < extraCol + size && y0 < extraRow + size)
          Seq((nI, nJ, extraCol, extraRow, size, size)) else Seq.empty
        col ++ row ++ corner
      }
      (mainTargets ++ extraTargets).flatMap { case (ti, tj, tc, tr, tw, th) =>
        val fx0 = math.max(x0, tc); val fx1 = math.min(x1, tc + tw)
        val fy0 = math.max(y0, tr); val fy1 = math.min(y1, tr + th)
        if (fx0 >= fx1 || fy0 >= fy1) None
        else {
          val fw = fx1 - fx0; val fh = fy1 - fy0
          val px = t.pixels.map { band =>
            val out = new Array[Float](fw * fh)
            var y = 0
            while (y < fh) {
              System.arraycopy(band, (fy0 - t.row_off + y) * t.width + (fx0 - t.col_off),
                out, y * fw, fw)
              y += 1
            }
            out
          }
          Some(Frag(t.raster_id, ti, tj, tc, tr, tw, th, fx0, fy0, fw, fh, px))
        }
      }
    }

    frags.groupByKey(f => (f.raster_id, f.ti, f.tj))
      .mapGroups { (key, it) =>
        val fs = it.toSeq
        val h = fs.head
        val nb = h.pixels.length
        val out = Array.fill(nb)(new Array[Float](h.tw * h.th))
        fs.foreach { f =>
          var bi = 0
          while (bi < nb) {
            var y = 0
            while (y < f.fh) {
              System.arraycopy(f.pixels(bi), y * f.fw,
                out(bi), (f.y0 - f.tr + y) * f.tw + (f.x0 - f.tc), f.fw)
              y += 1
            }
            bi += 1
          }
        }
        Tile(key._1, key._2, key._3, h.tc, h.tr, h.tw, h.th, out)
      }
  }
}
