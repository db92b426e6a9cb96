package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

import graft.core.{Affine, Geom, RasterMath, TileGrid, Window}
import graft.functions.DissolveAggregator
import graft.sources.Model.Tile

/** The reference's post-processing tools re-expressed as Spark operators:
  * max-prob filter (filter.py), threshold + polygonize + dissolve
  * (postprocess/polygonize.py), smooth-stitch (postprocess/smooth.py),
  * min-max scale (scale.py), histogram matching (histogram.py),
  * generalize (postprocess/generalize.py), spatial filter
  * (postprocess/spatial_filter.py). */
object PostProcess {

  // ---- F7: filter by max prob (filter.py:18-36) --------------------------

  /** Keep chips whose max pixel ≥ round(threshold·255) — note round() here
    * vs the t·256 scaling in polygonize (two different constants in the
    * reference; preserved). */
  def filterByMaxProb(chips: Dataset[Tile], threshold: Double): DataFrame = {
    val t = math.round(threshold * 255).toDouble
    chips.toDF()
      .withColumn("mx", array_max(flatten(col("pixels"))))
      .where(col("mx") >= lit(t))
      .select("raster_id", "i", "j", "mx")
  }

  // ---- F9 + M13 + A4: threshold → polygonize → dissolve ------------------

  /** gdal_calc threshold (polygonize.py:22-53): (A ≥ t·256)·value, nodata 0.
    * value=None keeps the source value. */
  def applyThreshold(chips: Dataset[Tile], threshold: Double,
                     value: Option[Int]): Dataset[Tile] = {
    import chips.sparkSession.implicits._
    val t = (threshold * 256).toFloat
    chips.map { tile =>
      val px = tile.pixels.map(_.map { v =>
        if (v >= t) value.map(_.toFloat).getOrElse(v) else 0f
      })
      tile.copy(pixels = px)
    }
  }

  /** Per-chip polygonization (gdal_polygonize parity at the region level):
    * 4-connected components of equal-valued non-zero pixels → polygon
    * (union of pixel squares) georeferenced via the window transform.
    * Narrow flatMap — one task per tile. */
  def polygonizeChips(chips: Dataset[Tile], affine: Affine): DataFrame = {
    import chips.sparkSession.implicits._
    chips.flatMap { tile =>
      val w = tile.width; val h = tile.height
      val band = tile.pixels(0)
      val winT = affine.forWindow(Window(tile.col_off, tile.row_off, w, h))
      val labels = new Array[Int](w * h)
      var next = 0
      val out = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Int)]
      var idx = 0
      while (idx < w * h) {
        if (band(idx) != 0f && labels(idx) == 0) {
          next += 1
          val v = band(idx)
          // BFS flood fill, 4-connectivity, equal value
          val stack = new java.util.ArrayDeque[Int]()
          stack.push(idx); labels(idx) = next
          val cells = scala.collection.mutable.ArrayBuffer.empty[Int]
          while (!stack.isEmpty) {
            val cur = stack.pop()
            cells += cur
            val cy = cur / w; val cx = cur % w
            def visit(n: Int): Unit =
              if (labels(n) == 0 && band(n) == v) { labels(n) = next; stack.push(n) }
            if (cx > 0) visit(cur - 1)
            if (cx < w - 1) visit(cur + 1)
            if (cy > 0) visit(cur - w)
            if (cy < h - 1) visit(cur + w)
          }
          // component → polygon = union of pixel squares in world coords
          val squares: Seq[Geometry] = cells.toSeq.map { c =>
            val cy = c / w; val cx = c % w
            val (x0, y0) = winT(cx.toDouble, cy.toDouble)
            val (x1, y1) = winT((cx + 1).toDouble, (cy + 1).toDouble)
            Geom.box(math.min(x0, x1), math.min(y0, y1), math.max(x0, x1), math.max(y0, y1))
          }
          out += ((Geom.toWkb(Geom.unaryUnion(squares)), v.toInt))
        }
        idx += 1
      }
      out.toSeq
    }.toDF("geom", "dn")
  }

  /** Full polygonize pipeline: threshold → per-chip polygonize → dissolve
    * (hierarchical Aggregator union = the reference's 10k-grouped
    * unary_union) → multipart explode. Output one row per final polygon. */
  def polygonize(spark: SparkSession, chips: Dataset[Tile], affine: Affine,
                 threshold: Option[Double] = None,
                 value: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val thresholded = threshold.map(t => applyThreshold(chips, t, value)).getOrElse(chips)
    val polys = polygonizeChips(thresholded, affine)
    val dissolved = polys.select(col("geom").as[Array[Byte]])
      .select(new DissolveAggregator().toColumn)
    dissolved.flatMap { wkb =>
      Geom.singleParts(Geom.fromWkb(wkb)).map(g => (Geom.toWkb(g), 255))
    }.toDF("geom", "dn")
  }

  // ---- M8 + J2 + A5: smooth stitch ---------------------------------------

  /** Overlapping chips → spline-weighted → assigned to a non-overlapping
    * output grid → pixelwise max merge (reference: smooth.py:128-204).
    * Each chip's overlapping output-window keys (oi, oj) are computed
    * arithmetically (the output grid is uniform, stride = chipSize — same
    * trick as Regrid.regrid), so the chip×window assignment is a broadcast
    * hash EQUI-join on (oi, oj), never a nested-loop bbox join: at 100×
    * raster area the cost stays O(chips · overlap), not O(chips · windows).
    * One shuffle (the merge groupBy). */
  def smoothStitch(spark: SparkSession, chips: Dataset[Tile], affine: Affine,
                   power: Double = 1.5): DataFrame = {
    import spark.implicits._
    val first = chips.head()
    val chipSize = first.width
    val nBands = first.pixels.length
    require(first.width == first.height, "chips must be square")
    val norm = RasterMath.splineWindow2D(chipSize, power) // driver-side, broadcast in closure

    // weighted chips (float64) — narrow map (smooth.py:47-83)
    val weighted = chips.map { t =>
      val px = t.pixels.map { band =>
        val out = new Array[Double](band.length)
        var k = 0
        while (k < band.length) { out(k) = band(k) * norm(k); k += 1 }
        out
      }
      WChip(t.raster_id, t.col_off, t.row_off, t.width, t.height, px)
    }

    // output bounds = union of chip bounds (A7); output grid anchored there
    val b = chips.toDF().agg(
      min(col("col_off")).as("c0"), min(col("row_off")).as("r0"),
      max(col("col_off") + col("width")).as("c1"),
      max(col("row_off") + col("height")).as("r1")).head()
    val (c0, r0, c1, r1) = (b.getInt(0), b.getInt(1), b.getInt(2), b.getInt(3))
    val outW = c1 - c0; val outH = r1 - r0
    val outGrid = TileGrid.squareWindows(chipSize, chipSize, outW, outH, "exact")
      .map(g => (g.i, g.j, g.window.colOff + c0, g.window.rowOff + r0,
        g.window.width, g.window.height))
    val outDf = spark.createDataset(outGrid)
      .toDF("oi", "oj", "ocol", "orow", "ow", "oh")

    // J2 cell-key join: the exact-mode output grid tiles [r0,r1)×[c0,c1)
    // without overlap, so a chip's covering windows are an index range —
    // explode the range, equi-join (broadcast hash join on (oi, oj))
    val joined = weighted.toDF()
      .withColumn("oi", explode(sequence(
        ((col("row_off") - lit(r0)) / lit(chipSize)).cast("int"),
        ((col("row_off") + col("height") - lit(1) - lit(r0)) / lit(chipSize)).cast("int"))))
      .withColumn("oj", explode(sequence(
        ((col("col_off") - lit(c0)) / lit(chipSize)).cast("int"),
        ((col("col_off") + col("width") - lit(1) - lit(c0)) / lit(chipSize)).cast("int"))))
      .join(broadcast(outDf), Seq("oi", "oj"))

    // place chip into output window coords (NaN outside), then pixelwise max
    val placed = joined.as[PlacedChip].map { p =>
      val n = p.ow * p.oh
      val out = Array.fill(p.pixels.length * n)(Double.NaN)
      var bi = 0
      while (bi < p.pixels.length) {
        val band = p.pixels(bi)
        var y = 0
        while (y < p.height) {
          val oy = p.row_off + y - p.orow
          if (oy >= 0 && oy < p.oh) {
            var x = 0
            while (x < p.width) {
              val ox = p.col_off + x - p.ocol
              if (ox >= 0 && ox < p.ow) out(bi * n + oy * p.ow + ox) = band(y * p.width + x)
              x += 1
            }
          }
          y += 1
        }
        bi += 1
      }
      (p.oi, p.oj, p.ocol, p.orow, p.ow, p.oh, out)
    }.toDF("oi", "oj", "ocol", "orow", "ow", "oh", "placed")

    // rasterio.merge(method="max") parity: elementwise nan-max, zeros where
    // uncovered (A5). Typed Aggregator registered as a UDAF for relational
    // groupBy — Spark runs it partial+final automatically.
    val merger = udaf(new graft.functions.PixelMaxAggregator(nBands, chipSize),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]())
    placed.groupBy("oi", "oj", "ocol", "orow", "ow", "oh")
      .agg(merger(col("placed")).as("pixels"))
      .withColumn("filename", concat_ws("_", col("oi"), col("oj")))
  }

  case class WChip(raster_id: String, col_off: Int, row_off: Int,
                   width: Int, height: Int, pixels: Array[Array[Double]])
  case class PlacedChip(raster_id: String, col_off: Int, row_off: Int,
                        width: Int, height: Int, pixels: Array[Array[Double]],
                        oi: Int, oj: Int, ocol: Int, orow: Int, ow: Int, oh: Int)

  // ---- A1 + M2: two-pass min-max scale (scale.py) -------------------------

  /** Global per-band min/max (first pass, scalar agg) then per-tile rescale
    * to 0..1 (second pass, narrow map with the scalars broadcast). */
  def minmaxScale(spark: SparkSession, tiles: Dataset[Tile]): Dataset[Tile] = {
    import spark.implicits._
    val stats = tiles.toDF()
      .select(posexplode(col("pixels")).as(Seq("b", "vals")))
      .select(col("b"), explode(col("vals")).as("v"))
      .groupBy("b").agg(min("v").as("mn"), max("v").as("mx"))
      .collect().map(r => (r.getInt(0), (r.getFloat(1).toDouble, r.getFloat(2).toDouble)))
      .toMap
    tiles.map { t =>
      val px = t.pixels.zipWithIndex.map { case (band, bi) =>
        val (mn, mx) = stats(bi)
        RasterMath.minmaxScale(band, mn, mx)
      }
      t.copy(pixels = px)
    }
  }

  // ---- J3 + M3: histogram matching ----------------------------------------

  /** Aligned-window equi-join of src and ref tile tables on (i, j), then the
    * skimage joint-CDF quantile mapping per window (histogram.py:105-108). */
  def matchHistograms(src: Dataset[Tile], ref: Dataset[Tile]): Dataset[Tile] = {
    import src.sparkSession.implicits._
    // alias both sides: `src("i") === ref("i")` on identically-named Dataset
    // columns resolves through joinWith's encoders today but is the exact
    // pattern that silently degrades to a trivially-true predicate (cross
    // join) under a refactor — qualify the columns explicitly
    val sa = src.alias("hm_src")
    val ra = ref.alias("hm_ref")
    sa.joinWith(ra, col("hm_src.i") === col("hm_ref.i") &&
        col("hm_src.j") === col("hm_ref.j"))
      .map { case (s, r) =>
        // NaN→0 on read (histogram.py:39-41); joint CDF over all bands
        val sAll = s.pixels.flatMap(RasterMath.nanToNum)
        val rAll = r.pixels.flatMap(RasterMath.nanToNum)
        val matched = RasterMath.matchHistograms(sAll, rAll)
        val bandLen = s.width * s.height
        val px = Array.tabulate(s.pixels.length)(bi =>
          java.util.Arrays.copyOfRange(matched, bi * bandLen, (bi + 1) * bandLen))
        s.copy(pixels = px)
      }
  }

  // ---- M10–M12: generalize ------------------------------------------------

  /** Reproject → Douglas-Peucker simplify → optional Chaikin smooth, with
    * the reference's skip rules (empty/multipart geometries —
    * generalize.py:68-98). */
  def generalize(polys: DataFrame, fromCrs: String, targetCrs: Option[String],
                 douglasTolerance: Double = 0.1,
                 chaikin: Boolean = false, refinements: Int = 5): DataFrame = {
    import polys.sparkSession.implicits._
    polys.select(col("geom").as[Array[Byte]], col("dn").as[Int]).flatMap { case (wkb, dn) =>
      val g0 = Geom.fromWkb(wkb)
      if (g0.isEmpty) None
      else if (g0.getGeometryType == "MultiPolygon" && g0.getNumGeometries > 1) None
      else {
        val part = if (g0.getGeometryType == "MultiPolygon") g0.getGeometryN(0) else g0
        val re = targetCrs.map(tc => Geom.reproject(part, fromCrs, tc)).getOrElse(part)
        val simp = Geom.simplifyPreserve(re, douglasTolerance)
        val sm = if (chaikin) Geom.chaikin(simp.asInstanceOf[org.locationtech.jts.geom.Polygon], refinements)
                 else simp
        Some((Geom.toWkb(sm), dn))
      }
    }.toDF("geom", "dn")
  }

  // ---- M9: spatial filter with halo exchange -------------------------------

  /** Gaussian/median blur over the full (virtually mosaicked) raster,
    * executed per tile with a halo of `r` pixels exchanged between the 8
    * neighbors: flatMap halo STRIPS keyed by target tile → groupBy assemble
    * → convolve → crop. Each neighbor receives only the r-pixel border
    * fragment it actually needs (the exact-mode grid is contiguous, so the
    * strip is computable from the source tile alone), making the shuffle
    * volume tiles + halos ≈ 1× the raster — not 9× as full-tile replication
    * would be. Grid must be non-overlapping ("exact" mode). */
  def spatialFilter(spark: SparkSession, tiles: Dataset[Tile], mode: String,
                    ksize: Int, rasterW: Int = graft.sources.Fixtures.LuxWidth,
                    rasterH: Int = graft.sources.Fixtures.LuxHeight): Dataset[Tile] = {
    import spark.implicits._
    require(ksize % 2 == 1, "kernel size must be odd (spatial_filter.py:18-23)")
    val r = ksize / 2
    // fragments: each tile contributes its r-pixel border strips to the 8
    // neighbors' groups and itself (whole) to its own group
    val frags = tiles.flatMap { t =>
      for {
        di <- -1 to 1; dj <- -1 to 1
        ti = t.i + di; tj = t.j + dj
        if ti >= 0 && tj >= 0
        f <- haloFragment(t, di, dj, r)
      } yield (ti, tj, f)
    }
    frags.groupByKey(f => (f._1, f._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Tile)]) =>
        val (ti, tj) = key
        val parts = it.toSeq
        // the center arrives whole (haloFragment ships it uncropped), so
        // width/height below are the true tile dims
        val center = parts.map(_._3).find(t => t.i == ti && t.j == tj)
        center match {
          case None => Iterator.empty
          case Some(c) =>
            // halo clamped to raster bounds: the border-mode reflection then
            // happens exactly at the true raster edge, matching the
            // single-raster OpenCV call on the merged VRT
            val x0 = math.max(c.col_off - r, 0)
            val y0 = math.max(c.row_off - r, 0)
            val x1 = math.min(c.col_off + c.width + r, rasterW)
            val y1 = math.min(c.row_off + c.height + r, rasterH)
            val pw = x1 - x0; val ph = y1 - y0
            val nb = c.pixels.length
            val padded = Array.fill(nb)(new Array[Float](pw * ph))
            parts.map(_._3).foreach { t =>
              var bi = 0
              while (bi < nb) {
                var y = 0
                while (y < t.height) {
                  val py = t.row_off + y - y0
                  if (py >= 0 && py < ph) {
                    var x = 0
                    while (x < t.width) {
                      val px = t.col_off + x - x0
                      if (px >= 0 && px < pw) padded(bi)(py * pw + px) = t.pixels(bi)(y * t.width + x)
                      x += 1
                    }
                  }
                  y += 1
                }
                bi += 1
              }
            }
            val blurred = padded.map { band =>
              val full = if (mode == "gaussian") RasterMath.gaussianBlur(band, pw, ph, ksize)
                         else RasterMath.medianBlur(band, pw, ph, ksize)
              val out = new Array[Float](c.width * c.height)
              var y = 0
              while (y < c.height) {
                System.arraycopy(full, (c.row_off + y - y0) * pw + (c.col_off - x0),
                  out, y * c.width, c.width)
                y += 1
              }
              out
            }
            Iterator.single(c.copy(pixels = blurred))
        }
      }
  }

  /** The fragment of `t` that the neighbor at (t.i+di, t.j+dj) needs for an
    * r-pixel halo: the r rows/cols adjacent to the shared edge (corner
    * fragments are r×r). (0,0) returns the whole tile. Relies on the
    * exact-mode grid being contiguous: a neighbor's padded region extends
    * exactly r pixels into this tile. Offsets/dims are rewritten so the
    * assembler places the fragment by raster coordinates as before. */
  private[operators] def haloFragment(t: Tile, di: Int, dj: Int, r: Int): Option[Tile] = {
    if (di == 0 && dj == 0) return Some(t)
    val y0 = if (di > 0) math.max(t.height - r, 0) else 0
    val y1 = if (di < 0) math.min(r, t.height) else t.height
    val x0 = if (dj > 0) math.max(t.width - r, 0) else 0
    val x1 = if (dj < 0) math.min(r, t.width) else t.width
    val fw = x1 - x0; val fh = y1 - y0
    if (fw <= 0 || fh <= 0) None
    else {
      val px = t.pixels.map { band =>
        val out = new Array[Float](fw * fh)
        var y = 0
        while (y < fh) {
          System.arraycopy(band, (y0 + y) * t.width + x0, out, y * fw, fw)
          y += 1
        }
        out
      }
      Some(Tile(t.raster_id, t.i, t.j, t.col_off + x0, t.row_off + y0, fw, fh, px))
    }
  }
}
