package graft.core

/** Affine transform in rasterio/GDAL order (a, b, c, d, e, f):
  *   x = c + col*a + row*b ;  y = f + col*d + row*e
  * (column-major pixel→world; b and d are 0 for axis-aligned rasters).
  * Mirrors the reference's use of `rasterio.transform.Affine`
  * (reference: satproc/chips.py:186-189, satproc/masks.py:192).
  */
final case class Affine(a: Double, b: Double, c: Double,
                        d: Double, e: Double, f: Double) {
  /** World coordinates of pixel (col, row) — the pixel's top-left corner. */
  def apply(col: Double, row: Double): (Double, Double) =
    (c + col * a + row * b, f + col * d + row * e)

  /** Per-window transform: `rasterio.windows.transform(window, t)` —
    * translate the origin to the window's (colOff, rowOff). */
  def forWindow(w: Window): Affine = {
    val (x0, y0) = apply(w.colOff.toDouble, w.rowOff.toDouble)
    Affine(a, b, x0, d, e, y0)
  }

  /** Inverse map world → pixel (col, row); axis-aligned fast path. */
  def invert(x: Double, y: Double): (Double, Double) = {
    val det = a * e - b * d
    val col = (e * (x - c) - b * (y - f)) / det
    val row = (-d * (x - c) + a * (y - f)) / det
    (col, row)
  }
}

/** Pixel-space window, `rasterio.windows.Window(col_off, row_off, width, height)`. */
final case class Window(colOff: Int, rowOff: Int, width: Int, height: Int) {
  /** World bounds under transform t: (minx, miny, maxx, maxy).
    * Mirrors `rasterio.windows.bounds` (y axis negative ⇒ top-left origin). */
  def bounds(t: Affine): (Double, Double, Double, Double) = {
    val (x0, y0) = t(colOff.toDouble, rowOff.toDouble)
    val (x1, y1) = t((colOff + width).toDouble, (rowOff + height).toDouble)
    (math.min(x0, x1), math.min(y0, y1), math.max(x0, x1), math.max(y0, y1))
  }
}

/** Sliding-window grid generation, bit-exact with the reference's
  * `sliding_windows(size, step_size, width, height, mode)`
  * (reference: satproc/utils.py:39-90).
  *
  * Modes:
  *  - "exact": clip windows at borders
  *  - "whole": only whole windows
  *  - "whole_overlap": whole windows plus extra overlapping right-edge
  *    column / bottom-edge row / corner windows when the raster size is
  *    not a multiple of the step (extras at utils.py:79-90).
  */
object TileGrid {
  final case class GridCell(window: Window, i: Int, j: Int)

  def slidingWindows(sizeW: Int, sizeH: Int, stepW: Int, stepH: Int,
                     width: Int, height: Int,
                     mode: String = "exact"): Seq[GridCell] = {
    require(Set("exact", "whole", "whole_overlap").contains(mode), s"bad mode $mode")
    val w = sizeW; val h = sizeH; val sw = stepW; val sh = stepH
    val whole = mode == "whole" || mode == "whole_overlap"
    val endI = if (whole) height - h else height
    val endJ = if (whole) width - w else width

    val out = scala.collection.mutable.ArrayBuffer.empty[GridCell]
    var lastPosI = 0
    var lastPosJ = 0
    // python range(0, end, step) is empty when end <= 0
    var posI = 0
    var i = 0
    while (i < endI) {
      var posJ = 0
      var j = 0
      while (j < endJ) {
        val realW = if (whole) w else math.min(w, math.abs(width - j))
        val realH = if (whole) h else math.min(h, math.abs(height - i))
        out += GridCell(Window(j, i, realW, realH), posI, posJ)
        lastPosI = posI; lastPosJ = posJ
        posJ += 1; j += sw
      }
      posI += 1; i += sh
    }

    if (mode == "whole_overlap" && (height % sh != 0 || width % sw != 0)) {
      // extra right-edge column (utils.py:80-84)
      var pI = 0; var ii = 0
      while (ii < height - h) {
        out += GridCell(Window(width - w, ii, w, h), pI, lastPosJ + 1)
        pI += 1; ii += sh
      }
      // extra bottom-edge row (utils.py:85-89)
      var pJ = 0; var jj = 0
      while (jj < width - w) {
        out += GridCell(Window(jj, height - h, w, h), lastPosI + 1, pJ)
        pJ += 1; jj += sw
      }
      // corner (utils.py:90)
      out += GridCell(Window(width - w, height - h, w, h), lastPosI + 1, lastPosJ + 1)
    }
    out.toSeq
  }

  /** Square-window convenience matching the reference CLI (size, step scalars). */
  def squareWindows(size: Int, step: Int, width: Int, height: Int,
                    mode: String): Seq[GridCell] =
    slidingWindows(size, size, step, step, width, height, mode)
}
