package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

/** Fuzz the byte-level hot-path extractor against well-formed and
  * malformed crawl-style html: the UTF8String codegen variant must agree
  * with the String-based variant everywhere, and malformed geo tags must
  * degrade to NaN (never throw) — ADVICE round 1: a single bad page must
  * not kill a 10^12-row job. */
class GeoExtractFuzzSpec extends AnyFunSuite {
  private val rng = new scala.util.Random(42)

  private def check(html: Array[Byte], text: String): Unit = {
    val a = Fixtures.extractGeoAndCheck(html, text)
    val b = Fixtures.extractGeoAndCheckU8(html, UTF8String.fromString(text))
    def same(x: Double, y: Double) = (x.isNaN && y.isNaN) || x == y
    assert(same(a._1, b._1) && same(a._2, b._2) && a._3 == b._3,
      s"variants disagree on ${new String(html).take(120)}: $a vs $b")
  }

  test("well-formed pages: both variants equal the synth geotag, text_ok true") {
    for (k <- 0L until 500L) {
      val p = Fixtures.page(k)
      check(p.html, p.text)
      val (lat, lon, ok) = Fixtures.extractGeoAndCheck(p.html, p.text)
      assert(ok && lat == Fixtures.pageLat(k) && lon == Fixtures.pageLon(k))
    }
  }

  test("malformed geo tags degrade to NaN, never throw; text check independent") {
    val bads = Seq(
      """<html><head></head><body><p>x y</p></body></html>""",                    // no tag
      """<html><meta name="geo.position" content="12.5"><p>x</p></html>""",       // no ';'
      """<html><meta name="geo.position" content="12.5;abc"><p>x</p></html>""",   // non-numeric
      """<html><meta name="geo.position" content="12.5;7.25<p>x</p>""",           // no quote, no close
      """<html><meta name="geo.position" content=";"><p>x</p></html>""",          // empty parts
      """<html><meta name="geo.position" content="1;2"><p>unterminated""",        // no </p>
      "<meta name=\"geo.position\" content=\"é;2\"><p>é</p>", // non-ascii lat
      "")
    for (s <- bads; text <- Seq("x", "", "é")) {
      val html = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      check(html, text) // must not throw, must agree
    }
    // valid tag value parses even when everything else is junk
    val (la, lo, ok) = Fixtures.extractGeoAndCheck(
      """<meta name="geo.position" content="-12.25;33.5">junk""".getBytes, "junk")
    assert(la == -12.25 && lo == 33.5 && !ok)
  }

  test("odd numeric literals: lat/lon are the JDK's parseDouble of the tag slice, bit for bit") {
    // an oracle independent of the shared tag parser: the JDK itself, with
    // NaN for both coordinates wherever it throws on either slice
    val odd = Seq(" 1.5", "1.5 ", "\t2.25\n", "+1.5", "-0", "-0.0", "0", "1e5", "1E-5",
      "-2.5e+3", "1e", "e5", "0x1p3", "0x1.8p1", "-0X.8P-2", "0x", "0x1.8", "NaN", "-NaN",
      "Infinity", "-Infinity", "+Infinity", "infinity", "1.5d", "1.5f", "2D", "3F", "1.5dd",
      "4.9e-324", "2.4703282292062327e-324", "2.2250738585072011e-308", "1e-400", "1e400",
      "-1e400", "", ".", "1.", ".5", "1..2", "--1", "1_000", "abc", "1.5\u00e9",
      "0.30000000000000004", "9007199254740993", "179769313486231580793728971405303415079e270")
    val mantissas = Seq("50.109582385123456", "6.0012345678901234", "1.2345678901234567890",
      "123456789012345678", "1234567890123456789", "-12.3456789012345678",
      "2.50000000000000000001", "0.1000000000000000055511151231257827") ++ {
      val r = new scala.util.Random(7)
      Seq.fill(300) {
        val digits = Seq.fill(17 + r.nextInt(3))(('0' + r.nextInt(10)).toChar).mkString
        val dot = r.nextInt(digits.length + 1)
        val sign = if (r.nextBoolean()) "-" else ""
        val exp = if (r.nextInt(3) == 0) s"e${r.nextInt(40) - 20}" else ""
        s"$sign${digits.take(dot)}.${digits.drop(dot)}$exp"
      }
    }
    def jdk(s: String): Option[Double] =
      try Some(java.lang.Double.parseDouble(s)) catch { case _: NumberFormatException => None }
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    for (x <- odd ++ mantissas; (lat, lon) <- Seq((x, "6.125"), ("50.0625", x))) {
      val html = s"""<meta name="geo.position" content="$lat;$lon"><p>t</p>"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val (wantLat, wantLon) = (jdk(lat), jdk(lon)) match {
        case (Some(a), Some(b)) => (a, b)
        case _ => (Double.NaN, Double.NaN)
      }
      for ((gotLat, gotLon, _) <- Seq(Fixtures.extractGeoAndCheck(html, "t"),
             Fixtures.extractGeoAndCheckU8(html, UTF8String.fromString("t"))))
        assert(bits(gotLat) == bits(wantLat) && bits(gotLon) == bits(wantLon),
          s"tag '$lat;$lon': got ($gotLat, $gotLon), the JDK reads ($wantLat, $wantLon)")
    }
  }

  test("random byte soup: never throws, variants agree") {
    for (_ <- 1 to 2000) {
      val n = rng.nextInt(200)
      val html = Array.fill(n)(rng.nextInt(256).toByte)
      val text = new String(Array.fill(rng.nextInt(20))(rng.nextPrintableChar()))
      check(html, text)
    }
    // adversarial: fragments of the magic markers spliced randomly
    val parts = Seq("<p>", "</p>", "name=\"geo.position\" content=\"", ";", "\"",
      "1.5", "abc", "€")
    for (_ <- 1 to 2000) {
      val s = Seq.fill(rng.nextInt(8))(parts(rng.nextInt(parts.length))).mkString
      check(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), "1.5abc")
    }
  }

  test("invalid UTF-8 body bytes: text_ok is byte-equality, no U+FFFD laundering") {
    // <p> region = 0xC3 '(' — an invalid UTF-8 sequence. Decoding it yields
    // "�(", whose RE-ENCODING (EF BF BD 28) differs from the raw bytes,
    // so byte-equality must say false even for the replacement-decoded text.
    val html = Array[Byte]('<', 'p', '>', 0xC3.toByte, '(', '<', '/', 'p', '>')
    val laundered = new String(html, 3, 2, java.nio.charset.StandardCharsets.UTF_8)
    assert(laundered == "�(") // confirms the region is invalid UTF-8
    check(html, laundered) // variants must agree
    assert(!Fixtures.extractGeoAndCheck(html, laundered)._3)
    assert(!Fixtures.extractGeoAndCheckU8(html, UTF8String.fromString(laundered))._3)
    // a text whose UTF-8 bytes DO equal the region still matches
    val valid = "é(" // C3 A9 28
    val html2 = s"<p>$valid</p>".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(Fixtures.extractGeoAndCheck(html2, valid)._3)
  }

  test("non-ascii text: byte comparison equals string comparison for valid UTF-8") {
    val text = "café € zürich"
    val html = s"""<html><p>$text</p></html>""".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    check(html, text)
    assert(Fixtures.extractGeoAndCheck(html, text)._3)
    assert(!Fixtures.extractGeoAndCheck(html, text + "x")._3)
    assert(Fixtures.extractGeoAndCheckU8(html, UTF8String.fromString(text))._3)
  }
}
