package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, sum, when}

import graft.core.{Geom, TileGrid}
import graft.operators.PagesTiling
import graft.sources.{Fixtures, IcebergLite}
import graft.sources.Model.Page

/** Tile assignments and chips a correct run must produce, counted in plain
  * Scala from the page generator and the tile grid alone: a page belongs to
  * every 128-pixel window whose half-open pixel range [off, off + size)
  * holds the page's pixel, the pixel owning [edge, edge + pixel size). */
final case class Expected(tiles: Long, chips: Long, chipPayloadBytes: Long)

object Expected {
  def count(firstPage: Long, nPages: Long): Expected = {
    val wins = TileGrid.squareWindows(128, 128, Fixtures.LuxWidth, Fixtures.LuxHeight,
      "whole_overlap").map(_.window).toArray
    val perWindow = new Array[Long](wins.length)
    var k = firstPage
    while (k < firstPage + nPages) {
      val px = math.floor((Fixtures.pageLon(k) - Fixtures.LuxOriginX) / Fixtures.LuxPxX).toLong
      val py = math.floor((Fixtures.pageLat(k) - Fixtures.LuxOriginY) / Fixtures.LuxPxY).toLong
      var w = 0
      while (w < wins.length) {
        val win = wins(w)
        if (px >= win.colOff && px < win.colOff + win.width &&
            py >= win.rowOff && py < win.rowOff + win.height) perWindow(w) += 1
        w += 1
      }
      k += 1
    }
    val hit = wins.indices.filter(perWindow(_) > 0)
    // each chip carries a density image and an extent mask, one byte a pixel
    Expected(perWindow.sum, hit.size.toLong,
      hit.map(w => 2L * wins(w).width * wins(w).height).sum)
  }
}

/** What one op produced; `extra` holds per-op figures of the sources
  * layer that only some workloads have. */
final case class Outcome(tiles: Long, chips: Long,
                         problems: Seq[String], extra: Map[String, Double] = Map.empty)

/** One benchmark workload over a `pages` parquet table of `nPages` pages
  * whose ids start at `firstPage`, written as `partitions` files of equal
  * size. With Spark's default split sizing, 16 such files (chips_2m) and 8
  * (chips_commit) pack into exactly one scan split per core at local[4],
  * so one seed's slightly larger files never change the scan's task count. */
abstract class Workload(val spark: SparkSession, val work: String,
                        val firstPage: Long, val nPages: Long, partitions: Int,
                        val expected: Expected) {
  protected val meta = Fixtures.luxMeta()
  protected val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }
  protected var pages: Dataset[Page] = _

  /** Writes the pages table afresh; every invocation pays this in setup. */
  def materialize(): Unit = {
    val dir = s"$work/pages"
    spark.range(firstPage, firstPage + nPages, 1, partitions)
      .map(k => Fixtures.page(k))(Encoders.product[Page])
      .write.mode("overwrite").parquet(dir)
    pages = spark.read.parquet(dir).as[Page](Encoders.product[Page])
  }

  /** Warm-up ops before the walls are checked for settling: measured on
    * 4 cores, the walls slide for about this many ops as the JIT works
    * through the op's code. */
  def minWarmup: Int

  /** One timed operation: the calls into the layers, wrapped in spans. */
  def op(i: Int, tr: Tracer): Outcome

  /** Untimed work after an op (checks that need Spark, cleanup). */
  def after(i: Int, o: Outcome): Outcome = o

  /** The functions-layer probe: geotag extraction and cell ids over the
    * whole table with an aggregate, no join. Returns its problems. */
  def geotagPass(): Seq[String] = {
    val r = PagesTiling.geotagged(spark, pages, 16)
      .agg(count(lit(1)), sum(when(col("text_ok"), 0L).otherwise(1L)), max(col("cell")))
      .head()
    Seq(
      if (r.getLong(0) != nPages) Some(s"geotag rows ${r.getLong(0)} != $nPages") else None,
      if (r.getLong(1) != 0L) Some(s"geotag bad_text ${r.getLong(1)}") else None).flatten
  }

  protected def checkCounts(tiles: Long, chips: Long, badText: Long): Seq[String] = {
    val e = expected
    Seq(
      if (tiles != e.tiles) Some(s"tile assignments $tiles != ${e.tiles}") else None,
      if (chips != e.chips) Some(s"chips $chips != ${e.chips}") else None,
      if (badText != 0L) Some(s"bad_text $badText != 0") else None).flatten
  }
}

/** chips_2m: the flagship read path. One op builds the pages→tiles join
  * plus chip extraction with labels and runs the flagship aggregate. */
final class Chips2m(spark: SparkSession, work: String, seed: Long, expected: Expected)
    extends Workload(spark, work, Workload.firstPage("chips_2m", seed),
      Workload.pages("chips_2m"), partitions = 16, expected) {
  val minWarmup = 6
  def op(i: Int, tr: Tracer): Outcome = {
    val agg = tr.phase("operators.build") {
      PagesTiling.extractChips(spark, pages, meta, labels = Some(labels))
        .agg(sum("n_pages"), count(lit(1)), sum("bad_text"))
    }
    val r = tr.phase("exec.action")(agg.head())
    Outcome(r.getLong(0), r.getLong(1), checkCounts(r.getLong(0), r.getLong(1), r.getLong(2)))
  }
}

/** chips_commit: the write path. One op runs the resumable chip extraction
  * into a fresh IcebergLite table, then a resume pass that must find
  * nothing left to do. */
final class ChipsCommit(spark: SparkSession, work: String, seed: Long, expected: Expected)
    extends Workload(spark, work, Workload.firstPage("chips_commit", seed),
      Workload.pages("chips_commit"), partitions = 8, expected) {
  val minWarmup = 7
  private def root(i: Int) = s"$work/tables/op$i"

  def op(i: Int, tr: Tracer): Outcome = {
    val table = new IcebergLite(root(i), spark)
    val committed = tr.phase("operators.build") {
      PagesTiling.extractChipsResumable(spark, pages, meta, table, labels = Some(labels))
    }
    val resumed = tr.phase("sources.resume") {
      PagesTiling.extractChipsResumable(spark, pages, meta, table, labels = Some(labels))
    }
    val snaps = table.committedSnapshots().size
    Outcome(0L, committed,
      Seq(
        if (resumed != 0L) Some(s"resume pass committed $resumed tiles, expected 0") else None,
        if (snaps != 1) Some(s"$snaps snapshots after one op, expected 1") else None).flatten,
      Map("sources.snapshots_per_op" -> snaps.toDouble))
  }

  override def after(i: Int, o: Outcome): Outcome = {
    val table = new IcebergLite(root(i), spark)
    val m = table.manifests().agg(sum("n_pages"), count(lit(1)), sum("bad_text")).head()
    val (tiles, chips, bad) = (m.getLong(0), m.getLong(1), m.getLong(2))
    val problems = o.problems ++ checkCounts(tiles, chips, bad) ++
      (if (o.chips != chips) Seq(s"commit returned ${o.chips}, manifest holds $chips") else Nil)
    val files = Workload.tree(Paths.get(root(i))).filter(Files.isRegularFile(_))
    val bytes = files.map(Files.size(_)).sum.toDouble
    val extra = o.extra ++ Map(
      "sources.files_written" -> files.count(_.toString.endsWith(".parquet")).toDouble,
      "sources.table_bytes_per_chip_byte" -> bytes / expected.chipPayloadBytes)
    Workload.deleteTree(Paths.get(root(i)))
    o.copy(tiles = tiles, problems = problems, extra = extra)
  }
}

object Workload {
  val names: Seq[String] = Seq("chips_2m", "chips_commit")

  def pages(name: String): Long = if (name == "chips_2m") 2000000L else 200000L

  /** The seed picks the page-id range [seed * pages, (seed + 1) * pages). */
  def firstPage(name: String, seed: Long): Long = seed * pages(name)

  def apply(name: String, spark: SparkSession, work: String, seed: Long,
            expected: Expected): Workload = name match {
    case "chips_2m" => new Chips2m(spark, work, seed, expected)
    case "chips_commit" => new ChipsCommit(spark, work, seed, expected)
  }

  /** Every path under `p`, parents before children. */
  def tree(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toList finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) tree(p).reverse.foreach(Files.delete)
}
