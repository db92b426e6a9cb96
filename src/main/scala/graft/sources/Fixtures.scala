package graft.sources

import com.fasterxml.jackson.core.io.NumberInput
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.locationtech.jts.geom.Geometry

import graft.core.{Affine, Geom, SplitMix64, TileGrid, Window}

/** Typed data model of the engine (SURVEY.md §1). */
object Model {
  /** A Common-Crawl-style geotagged page (BASELINE.json input_hint). */
  case class Page(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
                  text: String, lang: String)

  /** Raster metadata row. Affine as 6 doubles (a,b,c,d,e,f). */
  case class RasterMeta(raster_id: String, width: Int, height: Int, bands: Int,
                        crs: String, a: Double, b: Double, c: Double,
                        d: Double, e: Double, f: Double, nodata: Double)

  /** One tile of a tile-chunked raster: band-major row-major pixels. */
  case class Tile(raster_id: String, i: Int, j: Int, col_off: Int, row_off: Int,
                  width: Int, height: Int, pixels: Array[Array[Float]])

  /** Vector feature: WKB geometry + properties. */
  case class Feature(geom: Array[Byte], props: Map[String, String])
}

/** Deterministic synthesizers for all test fixtures (FIXTURES.md). The twin
  * of the reference's tests/data/lux1.tif raster + labels + AOI, and the
  * `pages` graft table. Everything is a pure function of the row index —
  * identical across any parallelism, which is what makes the "same tile
  * assignments at local[8] vs local[32]" invariant testable. */
object Fixtures {
  import Model._

  // lux1 twin geometry (verified against the reference fixture's TIFF tags)
  val LuxWidth = 483
  val LuxHeight = 216
  val LuxBands = 4
  val LuxOriginX = 5.979635689
  val LuxOriginY = 50.118985995
  val LuxPxX = 8.983152795e-5
  val LuxPxY = -8.983152778e-5
  val LuxAffine: Affine = Affine(LuxPxX, 0.0, LuxOriginX, 0.0, LuxPxY, LuxOriginY)

  def luxMeta(id: String = "lux1"): RasterMeta =
    RasterMeta(id, LuxWidth, LuxHeight, LuxBands, "epsg:4326",
      LuxPxX, 0.0, LuxOriginX, 0.0, LuxPxY, LuxOriginY, Double.NaN)

  /** Pixel value (band 1-based): ((b*7 + y*13 + x) mod 256)/850f —
    * reflectance-like 0–0.3 range (FIXTURES.md §2). */
  @inline def luxValue(b: Int, y: Int, x: Int): Float =
    ((b * 7 + y * 13 + x) % 256) / 850.0f

  /** The lux1 twin as a tile-chunked Dataset at the given grid. Pixels are
    * generated distributed (one task per tile). */
  def luxTiles(spark: SparkSession, size: Int = 128, step: Int = 128,
               mode: String = "whole_overlap", id: String = "lux1"): Dataset[Tile] = {
    import spark.implicits._
    val cells = TileGrid.squareWindows(size, step, LuxWidth, LuxHeight, mode)
    spark.createDataset(cells).repartition(math.min(cells.size, 32))
      .map { c =>
        val w = c.window
        val px = Array.tabulate(LuxBands) { bi =>
          val band = new Array[Float](w.width * w.height)
          var y = 0
          while (y < w.height) {
            var x = 0
            while (x < w.width) {
              band(y * w.width + x) = luxValue(bi + 1, w.rowOff + y, w.colOff + x)
              x += 1
            }
            y += 1
          }
          band
        }
        Tile(id, c.i, c.j, w.colOff, w.rowOff, w.width, w.height, px)
      }
  }

  /** Label twin (FIXTURES.md §3): 2 distinct polygons, each duplicated once,
    * class "A". P1 is a quad over its bounds; P2 a 5-corner ring (6 pts). */
  def labelGeoms(): Seq[(Geometry, String)] = {
    val p1 = Geom.polygon(Seq(
      (5.984150665, 50.105118704), (5.997857031, 50.105118704),
      (5.997857031, 50.110475422), (5.984150665, 50.110475422)))
    val midX = (6.015346925 + 6.020022795) / 2
    val p2 = Geom.polygon(Seq(
      (6.015346925, 50.103081162), (6.020022795, 50.103081162),
      (6.020022795, 50.106080210), (midX, 50.106080210), (6.015346925, 50.105)))
    Seq((p1, "A"), (p1.copy().asInstanceOf[Geometry], "A"),
        (p2, "A"), (p2.copy().asInstanceOf[Geometry], "A"))
  }

  /** AOI twin (FIXTURES.md §4): two identical MultiPolygons over the bounds. */
  def aoiGeoms(): Seq[Geometry] = {
    val box = Geom.box(5.982763948, 50.094170213, 6.002821601, 50.113968500)
    val mp = Geom.factory.createMultiPolygon(Array(box))
    Seq(mp, mp.copy().asInstanceOf[Geometry])
  }

  /** Probability-chip twin (FIXTURES.md §5): single-band uint8 chips on the
    * lux1 grid. Two rectangular blobs of value 40, each spanning ≥2 adjacent
    * chips (global pixel coords):
    *   blob A rows 20–60 × cols 100–160  → tiles (0,0),(0,1)
    *   blob B rows 150–200 × cols 300–400 → tiles (1,2),(1,3)
    * ⇒ per-chip max = 40 on those 4 tiles, 0 elsewhere: threshold 0.05
    * (round(0.05·255)=13) passes 4 of 8; threshold 0.5 (128) passes 0
    * (reference: tests/test_filter.py:15-41); nonzero regions dissolve into
    * exactly 2 polygons (tests/test_polygonize.py:16-46). */
  @inline def probValue(y: Int, x: Int): Float = {
    val inA = y >= 20 && y < 60 && x >= 100 && x < 160
    val inB = y >= 150 && y < 200 && x >= 300 && x < 400
    if (inA || inB) 40f else 0f
  }

  def probChips(spark: SparkSession, size: Int = 128, step: Int = 128,
                mode: String = "whole_overlap", id: String = "prob"): Dataset[Tile] = {
    import spark.implicits._
    val cells = TileGrid.squareWindows(size, step, LuxWidth, LuxHeight, mode)
    spark.createDataset(cells).repartition(math.min(cells.size, 32))
      .map { c =>
        val w = c.window
        val band = new Array[Float](w.width * w.height)
        var y = 0
        while (y < w.height) {
          var x = 0
          while (x < w.width) {
            band(y * w.width + x) = probValue(w.rowOff + y, w.colOff + x)
            x += 1
          }
          y += 1
        }
        Tile(id, c.i, c.j, w.colOff, w.rowOff, w.width, w.height, Array(band))
      }
  }

  /** Histogram-matching pair (FIXTURES.md §6): same dims, different value
    * distributions. */
  @inline def histSrcValue(y: Int, x: Int): Float = ((y * 31 + x * 17) % 200).toFloat
  @inline def histRefValue(y: Int, x: Int): Float = (((y * 13 + x * 7) % 200) / 2 + 55).toFloat

  def histPair(spark: SparkSession): (Dataset[Tile], Dataset[Tile]) = {
    import spark.implicits._
    def mk(id: String, f: (Int, Int) => Float): Dataset[Tile] = {
      val cells = TileGrid.squareWindows(128, 128, LuxWidth, LuxHeight, "exact")
      spark.createDataset(cells).map { c =>
        val w = c.window
        val band = Array.tabulate(w.width * w.height)(k =>
          f(w.rowOff + k / w.width, w.colOff + k % w.width))
        Tile(id, c.i, c.j, w.colOff, w.rowOff, w.width, w.height, Array(band))
      }
    }
    (mk("hsrc", histSrcValue), mk("href", histRefValue))
  }

  // ---- pages table (FIXTURES.md §1) -------------------------------------

  private val vocab: Array[String] =
    ("the quick brown fox jumps over lazy dog spark scala tile chip raster mask " +
      "window page crawl web text data join shuffle filter scan merge union " +
      "cell index ring query plan codegen batch stream lake geo map polygon " +
      "point line layer zoom level north south east west urban rural dense sparse").split(" ")

  def pageText(k: Long): String = {
    var s = SplitMix64.next(k ^ 0x5eed5eedL)
    val n = 20 + (java.lang.Long.remainderUnsigned(s, 40L)).toInt
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      s = SplitMix64.next(s)
      if (i > 0) sb.append(' ')
      sb.append(vocab(java.lang.Long.remainderUnsigned(s, vocab.length.toLong).toInt))
      i += 1
    }
    sb.toString
  }

  /** Geotag mapped into the lux1 extent so every page falls in a known tile. */
  def pageLon(k: Long): Double = LuxOriginX + SplitMix64.unitDouble(k, 0) * 0.043388628
  def pageLat(k: Long): Double = 50.099582385 + SplitMix64.unitDouble(k, 1) * 0.019403610

  def pageHtml(k: Long): String = {
    val lat = pageLat(k); val lon = pageLon(k)
    s"""<html><head><meta name="geo.position" content="$lat;$lon"><title>p$k</title></head><body><p>${pageText(k)}</p></body></html>"""
  }

  private val Epoch2024 = 1704067200000L // 2024-01-01T00:00:00Z

  def page(k: Long): Page = Page(
    url = s"https://example.org/p/$k",
    warc_ts = new java.sql.Timestamp(Epoch2024 + (k % 86400L) * 1000L),
    html = pageHtml(k).getBytes(java.nio.charset.StandardCharsets.UTF_8),
    text = pageText(k),
    lang = Seq("en", "es", "de", "fr")((k % 4).toInt))

  /** Distributed synthesis of N pages; parallelism-independent content. */
  def pages(spark: SparkSession, n: Long, partitions: Int = 32): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map(k => page(k))
  }

  /** Skewed geotag distribution: `hotPermille`/1000 of pages land inside
    * ONE res-16 cell (an urban hotspot), the rest stay uniform — the
    * worst-case input for the cell join's hot keys (SURVEY §7.3 item 2). */
  def skewedPage(k: Long, hotPermille: Int): Page = {
    if (k % 1000L < hotPermille) {
      // hotspot: ~1/20 of a res-16 cell, centered in the lux extent
      val lat = 50.109 + SplitMix64.unitDouble(k, 0) * 0.0002
      val lon = 6.001 + SplitMix64.unitDouble(k, 1) * 0.0002
      val text = pageText(k)
      Page(s"https://example.org/p/$k",
        new java.sql.Timestamp(Epoch2024 + (k % 86400L) * 1000L),
        s"""<html><head><meta name="geo.position" content="$lat;$lon"><title>p$k</title></head><body><p>$text</p></body></html>"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8),
        text, Seq("en", "es", "de", "fr")((k % 4).toInt))
    } else page(k)
  }

  def skewedPages(spark: SparkSession, n: Long, hotPermille: Int = 900,
                  partitions: Int = 32): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map(k => skewedPage(k, hotPermille))
  }

  /** The html→text extractor whose output must be byte-identical to the
    * `text` column per url (the BASELINE.json correctness invariant). */
  def extractText(html: Array[Byte]): String = {
    val s = new String(html, java.nio.charset.StandardCharsets.UTF_8)
    val a = s.indexOf("<p>")
    val b = s.indexOf("</p>", a + 3)
    if (a < 0 || b < 0) "" else s.substring(a + 3, b)
  }

  /** Geotag extraction from the page html (meta geo.position tag). */
  def extractLatLon(html: Array[Byte]): (Double, Double) = {
    val s = new String(html, java.nio.charset.StandardCharsets.UTF_8)
    latLonOf(s)
  }

  private def latLonOf(s: String): (Double, Double) = {
    val tag = "name=\"geo.position\" content=\""
    val a = s.indexOf(tag)
    if (a < 0) return (Double.NaN, Double.NaN)
    val b = s.indexOf('"', a + tag.length)
    if (b < 0) return (Double.NaN, Double.NaN)
    val parts = s.substring(a + tag.length, b).split(';')
    if (parts.length < 2) return (Double.NaN, Double.NaN)
    try (parts(0).toDouble, parts(1).toDouble)
    catch { case _: NumberFormatException => (Double.NaN, Double.NaN) }
  }

  /** Fused hot-path extractor: geotag + byte-identical text check parsed
    * straight from the html BYTES — no per-row String materialization (the
    * flagship runs this 10^12 times; a full decode per page is pure GC
    * pressure). Non-ASCII text falls back to a real decode for correctness. */
  def extractGeoAndCheck(html: Array[Byte], text: String): (Double, Double, Boolean) = {
    val (lat, lon) = parseGeoTag(html)
    val p0 = indexOfBytes(html, POpenBytes, 0)
    val p1 = if (p0 < 0) -1 else indexOfBytes(html, PCloseBytes, p0 + 3)
    val ok = p0 >= 0 && p1 >= 0 && regionEqualsUtf8(html, p0 + 3, p1, text)
    (lat, lon, ok)
  }

  /** Zero-String-materialization variant over Catalyst's UTF8String — the
    * flagship's codegen path ([[graft.functions.GeoTagExtract]]). The text
    * invariant compares html bytes to the text's UTF-8 bytes directly
    * (byte equality ⇔ string equality for valid UTF-8), so per-page heap
    * traffic is just the input array — at 32 cores the pipeline is
    * allocation-rate bound, not CPU bound. */
  def extractGeoAndCheckU8(html: Array[Byte],
                           text: org.apache.spark.unsafe.types.UTF8String): (Double, Double, Boolean) = {
    val (lat, lon) = parseGeoTag(html)
    val p0 = indexOfBytes(html, POpenBytes, 0)
    val p1 = if (p0 < 0) -1 else indexOfBytes(html, PCloseBytes, p0 + 3)
    val ok = p0 >= 0 && p1 >= 0 && {
      val n = p1 - (p0 + 3)
      text.numBytes == n && ByteArrayMethods.arrayEquals(text.getBaseObject,
        text.getBaseOffset, html, Platform.BYTE_ARRAY_OFFSET + p0 + 3, n)
    }
    (lat, lon, ok)
  }

  private def parseGeoTag(html: Array[Byte]): (Double, Double) = {
    val a = indexOfBytes(html, GeoTagBytes, 0)
    if (a < 0) (Double.NaN, Double.NaN)
    else {
      val vStart = a + GeoTagBytes.length
      val semi = indexOfByte(html, ';', vStart)
      val quote = if (semi < 0) -1 else indexOfByte(html, '"', semi + 1)
      // malformed tag value (no ';' / no closing quote / non-numeric) is
      // routine in crawl data: degrade to NaN exactly like a missing tag —
      // the downstream point-in-window refine discards NaN rows
      if (semi < 0 || quote < 0) (Double.NaN, Double.NaN)
      else try (asciiToDouble(html, vStart, semi), asciiToDouble(html, semi + 1, quote))
      catch { case _: NumberFormatException => (Double.NaN, Double.NaN) }
    }
  }

  private val GeoTagBytes = "name=\"geo.position\" content=\"".getBytes
  private val POpenBytes = "<p>".getBytes
  private val PCloseBytes = "</p>".getBytes

  private def indexOfBytes(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = math.max(from, 0)
    val end = hay.length - needle.length
    while (i <= end) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  private def indexOfByte(hay: Array[Byte], c: Char, from: Int): Int = {
    var i = from
    while (i < hay.length) { if (hay(i) == c.toByte) return i; i += 1 }
    -1
  }

  /** Exactly Double.parseDouble of the ASCII slice: jackson-core's fast
    * parser accepts the same syntax and rounds identically, without the
    * JDK's big-integer slow path on 17-digit values (the slice is tiny, so
    * the one small String alloc is fine). */
  private def asciiToDouble(b: Array[Byte], from: Int, until: Int): Double =
    NumberInput.parseDouble(new String(b, from, until - from,
      java.nio.charset.StandardCharsets.US_ASCII), true)

  /** html[from, until) equals `text`'s UTF-8 BYTES? text_ok is
    * byte-equality-defined — identical to the codegen UTF8String path, so a
    * region containing invalid UTF-8 never equals a valid String text (no
    * U+FFFD replacement-char laundering, which a decode-then-compare would
    * introduce). ASCII fast path avoids encoding `text`. */
  private def regionEqualsUtf8(html: Array[Byte], from: Int, until: Int,
                               text: String): Boolean = {
    val n = until - from
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      val b = html(from + i)
      if (b < 0) ascii = false
      else {
        if (i >= text.length || text.charAt(i) != b.toChar) return false
        i += 1
      }
    }
    if (ascii) n == text.length
    else {
      val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      java.util.Arrays.equals(html, from, until, tb, 0, tb.length)
    }
  }
}
