package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => WExpr}
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}

import graft.core.{Affine, Geom, Rasterize, RasterMath, Window}
import graft.sources.Model.{RasterMeta, Tile}

/** Reference-parity chip extraction (satproc_extract_chips,
  * reference: satproc/chips.py:111-313) re-expressed as one narrow Spark
  * pipeline over the tile-chunked raster table:
  *
  *   tile scan → bbox columns (plain columns ⇒ Catalyst pushdown/pruning)
  *   → AOI broadcast filter (prepared geometry, F1/J1)
  *   → typed map: NaN→0, band subset, rescale, low-contrast skip,
  *     per-class mask rasterization, empty-mask skip (F2/F4/F5/M1/M4–M7)
  *   → chips + masks + footprints (row_number over (i,j), A8)
  *
  * Everything after the (tiny) AOI broadcast is shuffle-free; the only wide
  * stage is the footprint numbering over an 8–10^4 row result.
  */
object ChipPipeline {

  case class ChipConfig(
      size: Int = 128,
      step: Int = 128,
      mode: String = "whole_overlap",
      rescaleMode: Option[String] = None,          // percentiles | values | s2_rgb_extra
      rescaleRange: (Double, Double) = (Double.NaN, Double.NaN),
      bands: Option[Seq[Int]] = None,              // 1-based; None → CLI defaulting
      chipType: String = "tif",
      masks: Set[String] = Set("extent"),          // extent | boundary | distance
      extentNoBorder: Boolean = false,
      within: Boolean = false,
      skipLowContrast: Boolean = false,
      skipWithEmptyMask: Boolean = true,
      labelProperty: String = "class",
      classes: Option[Seq[String]] = None)

  /** Chip result row: uint8 image when rescaled, float otherwise. */
  case class ChipRow(raster_id: String, i: Int, j: Int,
                     col_off: Int, row_off: Int, width: Int, height: Int,
                     minx: Double, miny: Double, maxx: Double, maxy: Double,
                     filename: String,
                     img_u8: Array[Array[Byte]], img_f32: Array[Array[Float]],
                     mask_kinds: Seq[String],
                     mask_bands: Seq[Array[Array[Byte]]]) // class-major per kind

  /** Per-executor cache of prepared geometries (PreparedGeometry itself is
    * not serializable; the WKB travels in the closure). */
  private object PreparedCache {
    private val cache = new java.util.concurrent.ConcurrentHashMap[Seq[Byte], PreparedGeometry]()
    def get(wkb: Array[Byte]): PreparedGeometry =
      cache.computeIfAbsent(wkb.toSeq,
        _ => PreparedGeometryFactory.prepare(Geom.fromWkb(wkb)))
  }

  /** Resolve bands like the reference CLI (console/extract_chips.py:268-274):
    * jpg → [1,2,3]; tif → all bands. Validates requested bands (F3). */
  def resolveBands(cfg: ChipConfig, meta: RasterMeta): Seq[Int] = {
    val bs = cfg.bands.getOrElse(
      if (cfg.chipType == "jpg") Seq(1, 2, 3) else 1 to meta.bands)
    require(bs.forall(_ <= meta.bands),
      s"Raster has ${meta.bands} bands, but you asked to use $bs band indexes")
    bs
  }

  /** Main pipeline. `labels` as (wkb, class) pairs, `aoi` as WKB — both
    * small, broadcast via closure. Returns the chips dataset (masks
    * embedded per row; explode with [[masksOf]]). */
  def extractChips(spark: SparkSession, tiles: Dataset[Tile], meta: RasterMeta,
                   labels: Option[Seq[(Array[Byte], String)]] = None,
                   aoiWkb: Option[Array[Byte]] = None,
                   cfg: ChipConfig = ChipConfig()): Dataset[ChipRow] = {
    import spark.implicits._
    val bands = resolveBands(cfg, meta)
    val affine = Affine(meta.a, meta.b, meta.c, meta.d, meta.e, meta.f)

    // class keys in reference order: explicit classes list, else the "_any"
    // sentinel that classify_polygons uses when classes=None
    // (masks.py:245-279, chips.py:247)
    val classKeys: Seq[String] = labels match {
      case None => Nil
      case Some(_) => cfg.classes.getOrElse(Seq("_any"))
    }
    val polysByClass: Map[String, Seq[Array[Byte]]] = labels match {
      case None => Map.empty
      case Some(ls) => cfg.classes match {
        case None => Map("_any" -> ls.map(_._1))
        case Some(cs) =>
          ls.filter { case (_, c) => cs.contains(c) }
            .groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      }
    }

    val basename = meta.raster_id
    val chipType = cfg.chipType
    val maskKinds = cfg.masks
    val haveLabels = labels.isDefined
    val rescaleMode = cfg.rescaleMode
    val rescaleRange = cfg.rescaleRange
    val skipLow = cfg.skipLowContrast
    val skipEmpty = cfg.skipWithEmptyMask
    val noBorder = cfg.extentNoBorder
    val within = cfg.within

    // ---- AOI filter (F1/J1): bbox prefilter on plain columns (pushdown),
    // then exact prepared-geometry predicate
    val withBounds = tiles
      .withColumn("minx", lit(meta.c) + col("col_off") * lit(meta.a))
      .withColumn("maxx", lit(meta.c) + (col("col_off") + col("width")) * lit(meta.a))
      .withColumn("maxy", lit(meta.f) + col("row_off") * lit(meta.e))
      .withColumn("miny", lit(meta.f) + (col("row_off") + col("height")) * lit(meta.e))

    val aoiFiltered = aoiWkb match {
      case None => withBounds
      case Some(wkb) =>
        val env = Geom.fromWkb(wkb).getEnvelopeInternal
        val pre = withBounds.where(
          col("minx") <= lit(env.getMaxX) && col("maxx") >= lit(env.getMinX) &&
          col("miny") <= lit(env.getMaxY) && col("maxy") >= lit(env.getMinY))
        val exact = udf { (minx: Double, miny: Double, maxx: Double, maxy: Double) =>
          val g = Geom.box(minx, miny, maxx, maxy)
          val p = PreparedCache.get(wkb)
          if (within) p.contains(g) else p.intersects(g)
        }
        pre.where(exact(col("minx"), col("miny"), col("maxx"), col("maxy")))
    }

    aoiFiltered.as[TileWithBounds].flatMap { tw =>
      val t = tw.toTile
      // read + NaN→0 + band subset (chips.py:235-237)
      val img: Array[Array[Float]] = bands.map(b => RasterMath.nanToNum(t.pixels(b - 1))).toArray

      // rescale (M1)
      val (imgU8, imgF32): (Array[Array[Byte]], Array[Array[Float]]) = rescaleMode match {
        case Some(m) => (RasterMath.rescaleIntensity(img, m, rescaleRange), null)
        case None => (null, img)
      }

      // low-contrast skip (F4) — on the post-rescale image like the reference
      val lowContrast = skipLow && {
        if (imgU8 != null)
          RasterMath.isLowContrast(imgU8.flatten.map(b => (b & 0xff).toFloat), isByteData = true)
        else RasterMath.isLowContrast(imgF32.flatten, isByteData = false)
      }
      if (lowContrast) Iterator.empty
      else {
        // masks (M4–M7)
        val win = Window(t.col_off, t.row_off, t.width, t.height)
        val winT = affine.forWindow(win)
        val wantBound = maskKinds.contains("boundary")
        val wantDist = maskKinds.contains("distance")

        val perClass: Seq[(Array[Byte], Array[Byte], Array[Byte])] =
          if (!haveLabels) Nil
          else classKeys.map { k =>
            val polys = polysByClass.getOrElse(k, Nil).map(Geom.fromWkb)
            maskFromPolygons(polys, win, winT, noBorder, wantBound, wantDist)
          }

        val kindsOrdered = Seq("extent", "boundary", "distance").filter(maskKinds.contains)
        val maskBands: Seq[Array[Array[Byte]]] = kindsOrdered.map {
          case "extent" => perClass.map(_._1).toArray
          case "boundary" => perClass.map(_._2).toArray
          case "distance" => perClass.map(_._3).toArray
        }

        // empty-mask skip (F5): over the REQUESTED kinds only (masks.py:121-136)
        val allEmpty = haveLabels && skipEmpty &&
          maskBands.forall(_.forall(band => band == null || band.forall(_ == 0)))
        if (allEmpty) Iterator.empty
        else {
          // ---- write-side payload semantics (S6/F2) ----------------------
          val (outU8, outF32) = chipType match {
            case "jpg" =>
              // write_image (chips.py:316-322): first 3 bands dstacked to
              // uint8 (float → C-cast truncate-mod-256), plus a SECOND
              // low-contrast test on the uint8 RGB; a skipped jpg is not
              // written but the chip still footprints (chips.py:269-287
              // appends to `chips` before the write call)
              val rgb: Array[Array[Byte]] =
                if (imgU8 != null) imgU8.take(3)
                else imgF32.take(3).map(_.map(v => (v.toInt & 0xff).toByte))
              val skipJpg = skipLow && RasterMath.isLowContrast(
                rgb.flatten.map(b => (b & 0xff).toFloat), isByteData = true)
              (if (skipJpg) Array.empty[Array[Byte]] else rgb, null)
            case _ =>
              // write_tif double-permute quirk (F2, chips.py:337): the
              // already-subset array is re-indexed by `bands` AGAIN, so
              // non-monotone bands double-permute (identity for ascending
              // 1..n) and bands beyond the subset length raise (Python
              // IndexError parity)
              def permute[T: scala.reflect.ClassTag](a: Array[Array[T]]): Array[Array[T]] =
                bands.map { b =>
                  require(b - 1 < a.length, s"write_tif re-index: band $b out of " +
                    s"range of the ${a.length}-band subset (reference chips.py:337 quirk)")
                  a(b - 1)
                }.toArray
              (if (imgU8 != null) permute(imgU8) else null,
                if (imgF32 != null) permute(imgF32) else null)
          }
          val (bMinx, bMiny, bMaxx, bMaxy) = win.bounds(affine)
          Iterator.single(ChipRow(t.raster_id, t.i, t.j, t.col_off, t.row_off,
            t.width, t.height, bMinx, bMiny, bMaxx, bMaxy,
            s"${basename}_${t.i}_${t.j}.$chipType",
            outU8, outF32, kindsOrdered,
            maskBands.map(cb => cb.map(b => if (b == null) Array.empty[Byte] else b))))
        }
      }
    }
  }

  /** mask_from_polygons parity (masks.py:159-222): returns
    * (extent, boundary, distance); null for kinds not computed. */
  def maskFromPolygons(polys: Seq[Geometry], win: Window, winT: Affine,
                       extentNoBorder: Boolean, wantBoundary: Boolean,
                       wantDistance: Boolean): (Array[Byte], Array[Byte], Array[Byte]) = {
    val w = win.width; val h = win.height
    if (polys.isEmpty) {
      val z = new Array[Byte](w * h)
      return (z, if (wantBoundary) new Array[Byte](w * h) else null,
        if (wantDistance) new Array[Byte](w * h) else null)
    }
    var mask = Rasterize.fillPolygons(polys, winT, w, h)
    var bound: Array[Byte] = null
    var dist: Array[Byte] = null
    if (wantBoundary || wantDistance || extentNoBorder) {
      bound = Rasterize.burnLines(Rasterize.boundaries(polys), winT, w, h)
      if (extentNoBorder || wantDistance) {
        val noBounds = mask.clone()
        var i = 0
        while (i < noBounds.length) { if (bound(i) != 0) noBounds(i) = 0; i += 1 }
        if (extentNoBorder) mask = noBounds
        if (wantDistance) dist = RasterMath.distanceTransformL2(noBounds, w, h)
      }
    }
    (mask, if (wantBoundary) bound else null, if (wantDistance) dist else null)
  }

  /** A6 parity: per-class feature counts with the unknown-class accounting
    * of classify_polygons (masks.py:245-279) — classes outside the
    * whitelist are flagged (`known=false`), matching the reference's
    * warning + count log, as a metrics-table row set. */
  def classCounts(spark: SparkSession, labels: Seq[(Array[Byte], String)],
                  classes: Option[Seq[String]]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rows = labels.groupBy(_._2).map { case (c, fs) =>
      (c, fs.size.toLong, classes.forall(_.contains(c)))
    }.toSeq
    spark.createDataset(rows).toDF("class", "n_features", "known")
  }

  /** Footprints table (S8/S9): global sequential id in (raster_id, i, j)
    * order — deterministic ordering, never partition order. Columns mirror
    * utils.py:177-221 including the x=i / y=j quirk.
    *
    * The id is a DISTRIBUTED enumeration, not an unpartitioned row_number
    * window — the window form funnels every footprint through ONE task's
    * sort, which is the first operator to fall over when a whole crawl's
    * chips flow through. The enumeration is the [[TextOps.packSequences]]
    * distributed prefix sum, pure Dataset/Catalyst (the old
    * `.rdd.zipWithIndex()` was the codebase's last RDD hop — same two
    * jobs, but through the row-format conversion BASELINE.json forbids):
    * range-partition + in-partition sort, one row-count per partition to
    * the driver, broadcast cumulative offsets back, then a
    * partition-local scan assigns offset + local ordinal. Ids are
    * partition-count-invariant by construction — offsets are computed
    * against whatever boundaries the range partitioner picked. The sorted
    * frame stays cached until the caller's scope closes: the ids are
    * assigned against its materialized partition boundaries. */
  def footprints(chips: Dataset[ChipRow]): DataFrame = {
    val spark = chips.sparkSession
    import spark.implicits._
    // the partition id is FROZEN INTO the cached rows (spark_partition_id()
    // is evaluated in the cache-build stage, right after the range
    // exchange+sort) instead of read from TaskContext in the assignment
    // pass: a downstream coalesce() — e.g. Verify's coalesce(1) writer —
    // pipelines the assignment into ONE task whose TaskContext id is the
    // COALESCED partition's, which would restart the offset at 0 for every
    // merged parent. Data-carried pids are immune: rows of one parent
    // partition stay contiguous under coalesce, so offset + reset-on-change
    // reproduces the exact zipWithIndex enumeration in any execution shape.
    val sorted = Owned.persist(chips.toDF()
      .select(col("raster_id"), col("i"), col("j"),
        col("minx"), col("miny"), col("maxx"), col("maxy"), col("filename"))
      .repartitionByRange(col("raster_id"), col("i"), col("j"))
      .sortWithinPartitions("raster_id", "i", "j")
      .withColumn("pid", spark_partition_id())
      .as[(String, Int, Int, Double, Double, Double, Double, String, Int)])
    val partCounts = sorted.groupBy(col("pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val maxPid = if (partCounts.isEmpty) -1 else partCounts.map(_._1).max
    val offsets = new Array[Long](maxPid + 2)
    partCounts.foreach { case (pid, n) => offsets(pid + 1) = n }
    var i = 1
    while (i < offsets.length) { offsets(i) += offsets(i - 1); i += 1 }
    val bc = spark.sparkContext.broadcast(offsets)
    // id is a Long: the whole point of the distributed enumeration is crawl
    // scale, where an Int would wrap silently past 2^31 footprints
    sorted.mapPartitions { it =>
      val off = bc.value
      var curPid = -1
      var id = 0L
      it.map { case (rasterId, ti, tj, minx, miny, maxx, maxy, filename, pid) =>
        if (pid != curPid) { curPid = pid; id = off(pid) }
        val out = (id, ti, tj, minx, miny, maxx, maxy, filename)
        id += 1
        out
      }
    }.toDF("id", "x", "y", "minx", "miny", "maxx", "maxy", "filename")
  }

  /** Explode per-chip masks to the masks table (S7 logical sink):
    * (raster_id, i, j, kind, class_idx, band bytes). */
  def masksOf(spark: SparkSession, chips: Dataset[ChipRow]): DataFrame = {
    import spark.implicits._
    chips.flatMap { c =>
      c.mask_kinds.zip(c.mask_bands).flatMap { case (kind, bandsPerClass) =>
        bandsPerClass.zipWithIndex.map { case (band, ci) =>
          (c.raster_id, c.i, c.j, kind, ci, band)
        }
      }
    }.toDF("raster_id", "i", "j", "kind", "class_idx", "mask")
  }

  /** Tile row + bbox columns (Dataset view used inside the pipeline). */
  case class TileWithBounds(raster_id: String, i: Int, j: Int, col_off: Int,
                            row_off: Int, width: Int, height: Int,
                            pixels: Array[Array[Float]],
                            minx: Double, maxx: Double, maxy: Double, miny: Double) {
    def toTile: Tile = Tile(raster_id, i, j, col_off, row_off, width, height, pixels)
  }
}
