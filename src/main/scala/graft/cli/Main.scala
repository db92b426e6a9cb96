package graft.cli

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Affine, Geom}
import graft.operators._
import graft.sources.{GeoJson, Sinks}
import graft.sources.Model.{RasterMeta, Tile}

/** The engine's console surface — one subcommand per reference tool
  * (reference: satproc/console/&lt;tool&gt;.py — extract_chips, make_masks, filter,
  * polygonize, generalize, match_histograms, scale, smooth_stitch,
  * spatial_filter; plus `retile`, the gdal_retile step polygonize.py:143-164
  * shells out to). Inputs/outputs are the engine's table formats: tile
  * tables as Dataset[Tile] parquet, raster metadata as a one-row RasterMeta
  * parquet (`--meta`), vectors as GeoJSON (read) / WKB parquet (written).
  *
  *   runMain graft.cli.Main extract_chips TILES --meta META -o OUT \
  *     [--labels L.geojson] [--classes A,B] [--aoi A.geojson] [--within] \
  *     [--masks extent,boundary,distance] [--type tif|jpg] [--bands 1,2,3] \
  *     [--rescale-mode values --rescale-range 0,0.3] [--size N --step-size N \
  *      --mode whole_overlap --regrid] [--skip-low-contrast] \
  *     [--write-footprints geojson|csv]
  */
object Main {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val conf = graft.Config.fromEnv
    val spark = graft.Config.session(conf.cpus,
      Map("spark.app.name" -> s"graft-${args.head}"), master = conf.master)
    try run(spark, args.head, parse(args.tail.toIndexedSeq))
    finally spark.stop()
  }

  val usage: String =
    """usage: graft.cli.Main <tool> [args]
      |tools: extract_chips make_masks filter polygonize generalize
      |       match_histograms scale smooth_stitch spatial_filter retile""".stripMargin

  case class Cli(positional: Seq[String], opts: Map[String, String], flags: Set[String]) {
    def apply(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = opts.get(k)
    def has(k: String): Boolean = flags.contains(k)
    def out: String = opts.getOrElse("o", opts.getOrElse("output", "."))
  }

  private val boolFlags = Set("within", "skip-low-contrast", "no-skip-with-empty-mask",
    "chaikin", "regrid", "write-csv")

  def parse(args: Seq[String]): Cli = {
    val pos = Seq.newBuilder[String]
    val opts = Map.newBuilder[String, String]
    val flags = Set.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--") || (a.startsWith("-") && a.length == 2 && !a(1).isDigit)) {
        val k = a.dropWhile(_ == '-')
        if (boolFlags(k) || i + 1 >= args.length) { flags += k; i += 1 }
        else { opts += k -> args(i + 1); i += 2 }
      } else { pos += a; i += 1 }
    }
    Cli(pos.result(), opts.result(), flags.result())
  }

  // ---- shared loaders ------------------------------------------------------

  def readTiles(spark: SparkSession, path: String): Dataset[Tile] = {
    import spark.implicits._
    spark.read.parquet(path).as[Tile]
  }

  def readMeta(spark: SparkSession, path: String): RasterMeta = {
    import spark.implicits._
    spark.read.parquet(path).as[RasterMeta].head()
  }

  def readLabels(spark: SparkSession, path: String,
                 labelProperty: String): Seq[(Array[Byte], String)] =
    GeoJson.read(spark, path).collect()
      .map(f => (f.geom, f.props.getOrElse(labelProperty, "_any"))).toSeq

  def readAoi(spark: SparkSession, path: String): Array[Byte] =
    Geom.toWkb(Geom.unaryUnion(
      GeoJson.read(spark, path).collect().map(f => Geom.fromWkb(f.geom)).toSeq))

  private def chipConfig(c: Cli): ChipPipeline.ChipConfig =
    ChipPipeline.ChipConfig(
      size = c.get("size").map(_.toInt).getOrElse(128),
      step = c.get("step-size").map(_.toInt).getOrElse(c.get("size").map(_.toInt).getOrElse(128)),
      mode = c.get("mode").getOrElse("whole_overlap"),
      rescaleMode = c.get("rescale-mode"),
      rescaleRange = c.get("rescale-range").map { r =>
        val Array(lo, hi) = r.split(','); (lo.toDouble, hi.toDouble)
      }.getOrElse((Double.NaN, Double.NaN)),
      bands = c.get("bands").map(_.split(',').map(_.toInt).toSeq),
      chipType = c.get("type").getOrElse("tif"),
      masks = c.get("masks").map(_.split(',').toSet).getOrElse(Set("extent")),
      extentNoBorder = c.has("extent-no-border"),
      within = c.has("within"),
      skipLowContrast = c.has("skip-low-contrast"),
      skipWithEmptyMask = !c.has("no-skip-with-empty-mask"),
      labelProperty = c.get("label-property").getOrElse("class"),
      classes = c.get("classes").map(_.split(',').toSeq))

  /** Re-grid the stored tile table to the requested window grid when asked
    * (the stored grid is authoritative otherwise). */
  private def gridded(spark: SparkSession, tiles: Dataset[Tile], meta: RasterMeta,
                      cfg: ChipPipeline.ChipConfig, c: Cli): Dataset[Tile] =
    if (c.has("regrid"))
      Regrid.regrid(spark, tiles, meta.width, meta.height, cfg.size, cfg.step, cfg.mode)
    else tiles

  // ---- tools ---------------------------------------------------------------

  /** Runs one tool; every intermediate it caches is released when it ends. */
  def run(spark: SparkSession, tool: String, c: Cli): Unit = Owned.scope(runTool(spark, tool, c))

  private def runTool(spark: SparkSession, tool: String, c: Cli): Unit = tool match {
    case "extract_chips" =>
      val meta = readMeta(spark, c("meta"))
      val cfg = chipConfig(c)
      val tiles = gridded(spark, readTiles(spark, c.positional.head), meta, cfg, c)
      val labels = c.get("labels").map(readLabels(spark, _, cfg.labelProperty))
      val aoi = c.get("aoi").map(readAoi(spark, _))
      val chips = Owned.persist(ChipPipeline.extractChips(spark, tiles, meta, labels, aoi, cfg))
      Sinks.writeChips(chips.toDF(), c.out)
      if (labels.isDefined)
        Sinks.writeMasks(ChipPipeline.masksOf(spark, chips), c.out)
      c.get("write-footprints").foreach {
        case "csv" => GeoJson.writeFootprintsCsv(ChipPipeline.footprints(chips),
          s"${c.out}/${meta.raster_id}.csv")
        case _ => GeoJson.writeFootprints(ChipPipeline.footprints(chips),
          s"${c.out}/${meta.raster_id}.geojson", meta.crs)
      }
      println(s"extract_chips: ${chips.count()} chips -> ${c.out}")

    case "make_masks" =>
      val meta = readMeta(spark, c("meta"))
      val cfg = chipConfig(c)
      val tiles = gridded(spark, readTiles(spark, c.positional.head), meta, cfg, c)
      val labels = readLabels(spark, c("labels"), cfg.labelProperty)
      val chips = ChipPipeline.extractChips(spark, tiles, meta, Some(labels), None, cfg)
      val masks = ChipPipeline.masksOf(spark, chips)
      Sinks.writeMasks(masks, c.out)
      println(s"make_masks: ${masks.count()} masks -> ${c.out}")

    case "filter" =>
      // keep chips whose max prob ≥ round(t·255) (reference filter.py moves
      // the kept chip files; here the kept tiles are written out)
      val tiles = readTiles(spark, c.positional.head)
      val t = c("threshold").toDouble
      val kept = PostProcess.filterByMaxProb(tiles, t).select("raster_id", "i", "j")
      tiles.toDF().join(kept, Seq("raster_id", "i", "j"))
        .write.mode("overwrite").parquet(c.out)
      println(s"filter: kept ${kept.count()} of ${tiles.count()} -> ${c.out}")

    case "polygonize" =>
      val meta = readMeta(spark, c("meta"))
      val affine = Affine(meta.a, meta.b, meta.c, meta.d, meta.e, meta.f)
      val polys = PostProcess.polygonize(spark, readTiles(spark, c.positional.head),
        affine, c.get("threshold").map(_.toDouble), c.get("value").map(_.toInt))
      polys.write.mode("overwrite").parquet(c.out) // WKB parquet = the GPKG analog
      println(s"polygonize: ${polys.count()} features -> ${c.out}")

    case "generalize" =>
      val polys = spark.read.parquet(c.positional.head)
      val out = PostProcess.generalize(polys,
        c.get("source-crs").getOrElse("epsg:4326"), c.get("target-crs"),
        c.get("tolerance").map(_.toDouble).getOrElse(0.1), c.has("chaikin"))
      out.write.mode("overwrite").parquet(c.out)
      println(s"generalize: ${out.count()} features -> ${c.out}")

    case "match_histograms" =>
      val Seq(srcPath, refPath) = c.positional.take(2)
      val matched = PostProcess.matchHistograms(
        readTiles(spark, srcPath), readTiles(spark, refPath))
      matched.write.mode("overwrite").parquet(c.out)
      println(s"match_histograms -> ${c.out}")

    case "scale" =>
      val scaled = PostProcess.minmaxScale(spark, readTiles(spark, c.positional.head))
      scaled.write.mode("overwrite").parquet(c.out)
      println(s"scale -> ${c.out}")

    case "smooth_stitch" =>
      val meta = readMeta(spark, c("meta"))
      val affine = Affine(meta.a, meta.b, meta.c, meta.d, meta.e, meta.f)
      val out = PostProcess.smoothStitch(spark, readTiles(spark, c.positional.head),
        affine, c.get("power").map(_.toDouble).getOrElse(1.5))
      out.write.mode("overwrite").parquet(c.out)
      println(s"smooth_stitch: ${out.count()} windows -> ${c.out}")

    case "spatial_filter" =>
      val meta = readMeta(spark, c("meta"))
      val out = PostProcess.spatialFilter(spark, readTiles(spark, c.positional.head),
        c.get("filter").getOrElse("gaussian"), c.get("size").map(_.toInt).getOrElse(5),
        meta.width, meta.height)
      out.write.mode("overwrite").parquet(c.out)
      println(s"spatial_filter -> ${c.out}")

    case "retile" =>
      val meta = readMeta(spark, c("meta"))
      val size = c.get("size").map(_.toInt).getOrElse(64)
      val out = Regrid.regrid(spark, readTiles(spark, c.positional.head),
        meta.width, meta.height, size, size, "exact")
      out.write.mode("overwrite").parquet(c.out)
      println(s"retile -> ${c.out}")

    case other =>
      throw new IllegalArgumentException(s"unknown tool '$other'\n$usage")
  }
}
