package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Affine, Geom, TileGrid}
import graft.functions.CellFunctions
import graft.sources.Model.{Page, RasterMeta}

/** The web-scale graft (BASELINE.json north rule): assign Common-Crawl-style
  * geotagged pages to raster tiles via batched cell encoding, then extract
  * per-tile chips (page-density rasters) + label masks — satproc's chipping
  * pipeline re-expressed over a 10^12-row pages table.
  *
  * Plan shape (all Dataset/Catalyst, no RDD):
  *
  *   pages scan → html geotag extract + text invariant check (G5)
  *     → cell_id(lat, lon, res)                 [codegen Expression, G6]
  *   tiles (from raster metadata, a tiny table)
  *     → tile_windows generator → bbox columns → explode(cell_cover)  [G2]
  *   join on cell (broadcast when tile side is small; salted equi-join
  *   otherwise) → exact point-in-window refine on plain columns
  *     → pixel index pix = py·width + px, a plain int column
  *     → ONE aggregate keyed on the tile index t: dense per-pixel counts
  *       (`pixel_counts`, an Int per pixel) + page and bad-text counts;
  *       the map-side partial ships at most one tile-sized record per
  *       (task, tile) regardless of page count (skew-proof)
  *     → per-tile rescale of the counts into the chip + masks
  *
  * At 100 TB the only wide stages are the cell join and the tile
  * aggregation; both shuffle pre-combined, bounded-size records.
  */
object PagesTiling {

  case class TilingConfig(size: Int = 128, step: Int = 128,
                          mode: String = "whole_overlap", cellRes: Int = 16,
                          salt: Int = 1)

  /** Pages with extracted geotag + cell id. `text_ok` carries the
    * byte-identical extracted-text-per-url invariant. The extraction is a
    * native codegen Expression over the raw html bytes + the text column's
    * UTF8String ([[graft.functions.GeoTagExtract]]) — no String decode, no
    * UDF converter boxing; nondeterministic-marked so Catalyst evaluates it
    * exactly once per row. */
  def geotagged(spark: SparkSession, pages: Dataset[Page], res: Int): DataFrame = {
    pages.toDF()
      .withColumn("geo", graft.functions.GeoTagOps.geo_tag_extract(col("html"), col("text")))
      .select(col("url"), col("warc_ts"), col("lang"),
        col("geo.lat").as("lat"), col("geo.lon").as("lon"),
        col("geo.text_ok").as("text_ok"))
      .withColumn("cell", CellFunctions.cell_id(col("lat"), col("lon"), lit(res)))
  }

  /** Tile table for one raster: grid windows + world bounds + covering cells
    * (exploded). Tiny relative to pages; Catalyst broadcasts it. */
  def tileCells(spark: SparkSession, meta: RasterMeta, cfg: TilingConfig): DataFrame =
    tileCellsOf(spark, meta, cfg, gridWindows(meta, cfg)).drop("t")

  private def gridWindows(meta: RasterMeta, cfg: TilingConfig): Seq[TileGrid.GridCell] =
    TileGrid.squareWindows(cfg.size, cfg.step, meta.width, meta.height, cfg.mode)

  /** The tile table over the given grid windows only; `t` is each tile's
    * index in `cells`. */
  private def tileCellsOf(spark: SparkSession, meta: RasterMeta, cfg: TilingConfig,
                          cells: Seq[TileGrid.GridCell]): DataFrame = {
    import spark.implicits._
    val tiles = spark.createDataset(cells.zipWithIndex.map { case (c, t) =>
      (t, meta.raster_id, c.i, c.j, c.window.colOff, c.window.rowOff,
        c.window.width, c.window.height)
    }).toDF("t", "raster_id", "i", "j", "col_off", "row_off", "width", "height")
    ChipPipeline.tileBounds(tiles, meta).withColumn("cell", explode(CellFunctions.cell_cover(
      col("miny"), col("minx"), col("maxy"), col("maxx"), lit(cfg.cellRes))))
  }

  /** Spatial join: pages × tiles on cell, refined to exact point-in-window
    * containment. With whole_overlap grids, border pages legitimately land
    * in 2–4 overlapping tiles (same as the reference's overlapping chips).
    * `salt > 1` replicates the tile side for hot-cell skew. */
  def assignTiles(pagesGeo: DataFrame, tiles: DataFrame, cfg: TilingConfig): DataFrame = {
    val (l, r) =
      if (cfg.salt <= 1) (pagesGeo, tiles)
      else (
        pagesGeo.withColumn("salt", pmod(hash(col("url")), lit(cfg.salt))),
        tiles.withColumn("salt", explode(sequence(lit(0), lit(cfg.salt - 1)))))
    val keys = if (cfg.salt <= 1) Seq("cell") else Seq("cell", "salt")
    l.join(r, keys)
      // exact refine: point inside window's world bbox (pixel convention:
      // a pixel owns [edge, edge+px) ⇒ x in [minx, maxx), y in (miny, maxy])
      .where(col("lon") >= col("minx") && col("lon") < col("maxx") &&
             col("lat") <= col("maxy") && col("lat") > col("miny"))
      .drop("cell", "salt")
  }

  /** Full flagship: pages → density chips per tile (+ masks from labels). */
  def extractChips(spark: SparkSession, pages: Dataset[Page], meta: RasterMeta,
                   labels: Option[Seq[(Array[Byte], String)]] = None,
                   aoiWkb: Option[Array[Byte]] = None,
                   cfg: TilingConfig = TilingConfig()): DataFrame =
    chipsOf(spark, pages, meta, labels, aoiWkb, cfg, gridWindows(meta, cfg))

  /** [[extractChips]] over the given grid windows only. */
  private def chipsOf(spark: SparkSession, pages: Dataset[Page], meta: RasterMeta,
                      labels: Option[Seq[(Array[Byte], String)]],
                      aoiWkb: Option[Array[Byte]], cfg: TilingConfig,
                      windows: Seq[TileGrid.GridCell]): DataFrame = {
    import spark.implicits._
    val affine = Affine(meta.a, meta.b, meta.c, meta.d, meta.e, meta.f)
    val pagesGeo = geotagged(spark, pages, cfg.cellRes)
    val cells = tileCellsOf(spark, meta, cfg, windows)
    // AOI filter on tiles (F1) — tile side is tiny, do it pre-join
    val tiles = aoiWkb.fold(cells)(ChipPipeline.aoiFilter(cells, _, within = false))

    val assigned = assignTiles(pagesGeo, tiles, cfg)

    // page → pixel inside its tile (pure column math, stays in codegen)
    val px = floor((col("lon") - lit(meta.c)) / lit(meta.a)).cast("int") - col("col_off")
    val py = floor((col("lat") - lit(meta.f)) / lit(meta.e)).cast("int") - col("row_off")

    // one aggregation keyed on the tile index: dense per-pixel counts
    // (map-side partial, at most one tile-sized record per task and tile).
    // `pix` is a projected column so the aggregate reads a plain int.
    val counted = assigned
      .withColumn("px", px).withColumn("py", py)
      .where(col("px") >= 0 && col("px") < col("width") &&
             col("py") >= 0 && col("py") < col("height"))
      .select(col("t"), (col("py") * col("width") + col("px")).as("pix"), col("text_ok"))
      .groupBy(col("t"))
      .agg(CellFunctions.pixel_counts(col("pix"), cfg.size * cfg.size),
        count(lit(1)), sum(when(col("text_ok"), 0L).otherwise(1L)))

    val labelsLocal = labels
    val windowsLocal = windows.toArray
    val rasterId = meta.raster_id
    val chips = counted.as[(Int, Array[Int], Long, Long)].map { case (t, counts, nPages, badText) =>
      val cell = windowsLocal(t)
      val win = cell.window
      // density → uint8 chip, skimage-style rescale to 1..255 over (0, max);
      // counts past a narrower window's area stay 0
      val mx = math.max(1, counts.max)
      val img = new Array[Byte](win.width * win.height)
      var k = 0
      while (k < img.length) {
        img(k) = ((counts(k).toDouble / mx) * 254.0 + 1.0).toInt.toByte
        k += 1
      }
      // extent mask from labels (M4) on this tile's window
      val mask: Array[Byte] = labelsLocal match {
        case None => Array.empty[Byte]
        case Some(ls) =>
          ChipPipeline.maskFromPolygons(ls.map(p => Geom.fromWkb(p._1)),
            win, affine.forWindow(win), extentNoBorder = false,
            wantBoundary = false, wantDistance = false)._1
      }
      val (minx, miny, maxx, maxy) = win.bounds(affine)
      ChipOut(rasterId, cell.i, cell.j, nPages, badText,
        s"${rasterId}_${cell.i}_${cell.j}.tif", minx, miny, maxx, maxy, img, mask)
    }
    chips.toDF()
  }

  /** Flagship with the north rule's bookkeeping: chips are committed to an
    * Iceberg-style table with one manifest row per tile, a lineage row
    * mapping each output tile to its input snapshot + covering cell range,
    * and per-stage metrics. Returns the number of chips committed in this
    * run.
    *
    * Skip-existing is decided once, on the tile grid, before any pages
    * work (satproc checks each window before reading it,
    * satproc/chips.py:227-233): the committed manifest's keys, read on the
    * driver, are removed from the grid's tile keys (`<raster_id>_<i>_<j>`)
    * — no job, and never more than the grid it already holds. With none
    * pending the call returns 0 without touching `pages`; otherwise the
    * tile table is built from the pending windows only, so pages are
    * joined, binned and masked for those tiles alone. Within-job retry is
    * Spark-native task retry.
    *
    * A committing call runs 3 jobs: the tile table's broadcast, the pages
    * scan into the tile aggregate's shuffle, and the chips write. The
    * write reports a row of facts per chip through an `Observation` on the
    * written frame; they come from the write's result stage, where Spark
    * merges each task's accumulator once even when a task is retried. The
    * driver builds the manifest, lineage and metrics rows from those facts
    * and writes them itself ([[graft.sources.IcebergLite]]'s protocol). An
    * open window that holds no page yields no chip, and a call whose open
    * windows yield none commits nothing. */
  def extractChipsResumable(spark: SparkSession, pages: Dataset[Page],
                            meta: RasterMeta, table: graft.sources.IcebergLite,
                            labels: Option[Seq[(Array[Byte], String)]] = None,
                            cfg: TilingConfig = TilingConfig(),
                            jobId: String = "pages-chips"): Long = {
    import org.apache.spark.sql.functions.{col => c, _}
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val grid = gridWindows(meta, cfg)
    def tileKey(w: TileGrid.GridCell) = s"${meta.raster_id}_${w.i}_${w.j}"
    val done =
      if (table.committedSnapshots().isEmpty) Set.empty[String]
      else table.manifests().select("part_key").as[String].collect().toSet
    val windows = grid.filterNot(w => done(tileKey(w)))
    if (windows.isEmpty) return 0L

    // one row of facts per chip, observed on the write; the partition id
    // is projected first (Spark cannot evaluate it inside the observed
    // aggregate) and dropped before the write
    val facts = Observation()
    val key = concat_ws("_", c("raster_id"), c("i"), c("j"))
    val chips = chipsOf(spark, pages, meta, labels, None, cfg, windows)
      .withColumn("partition", spark_partition_id())
      .observe(facts, collect_list(struct(c("partition"), key, c("i"), c("j"),
        c("n_pages"), c("bad_text"), hash(key).cast("long"))).as("facts"))
      .drop("partition")
    lazy val tiles = facts.get("facts").asInstanceOf[scala.collection.Seq[Row]].toSeq.map(r =>
      (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val inputSnapshot = table.currentSnapshot()
    table.commit(Some((chips, "chips")),
      tiles.map(t => (t._2, t._5, t._6)).toDF("part_key", "n_pages", "bad_text"), "chips-append")
    if (tiles.nonEmpty) {
      // lineage: output tile → input snapshot + covering cells at cfg.cellRes
      table.appendLineage(tiles.map(t => (t._2, t._3, t._4, inputSnapshot, cfg.cellRes))
        .toDF("tile_key", "i", "j", "input_snapshot", "cell_res"))
      // metrics (SURVEY §7.4 north-rule field list), one schema for the
      // append-only side-table: a detail row per partition (rows_in = pages
      // binned into the partition's tiles, rows_out = tiles, checksum over
      // tile keys) and a summary row (partition = -1) summing them, where
      // `addExact` raises on overflow as ANSI `sum` does
      def total(xs: Seq[(Long, Long, Long)]) = xs.reduce((a, b) =>
        (Math.addExact(a._1, b._1), Math.addExact(a._2, b._2), Math.addExact(a._3, b._3)))
      val detail = tiles.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (p, ts) => (p, total(ts.map(t => (t._5, 1L, t._7))), "chips.partitions") }
      val wall = System.currentTimeMillis() - t0
      table.appendMetrics((detail :+ ((-1, total(detail.map(_._2)), "chips"))).map {
        case (p, (in, out, ck), stage) => (p, in, out, ck, stage, jobId, wall, cfg.salt)
      }.toDF("partition", "rows_in", "rows_out", "checksum", "stage", "job_id", "wall_ms", "skew_salt"))
    }
    tiles.length.toLong
  }

  case class ChipOut(raster_id: String, i: Int, j: Int, n_pages: Long,
                     bad_text: Long, filename: String,
                     minx: Double, miny: Double, maxx: Double, maxy: Double,
                     img: Array[Byte], extent_mask: Array[Byte])
}
