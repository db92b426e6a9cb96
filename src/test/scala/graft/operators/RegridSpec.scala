package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Fixtures

class RegridSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  test("degenerate grids: raster dim == tile size is rejected for whole_overlap, empty for whole") {
    val src = Fixtures.luxTiles(spark, mode = "exact")
    // height == size with height % step != 0: TileGrid emits extras at
    // lastPos+1 with colliding (i,j) keys — regrid must reject, not mis-index
    val e = intercept[IllegalArgumentException] {
      Regrid.regrid(spark, src, Fixtures.LuxWidth, Fixtures.LuxHeight,
        Fixtures.LuxHeight, 200, "whole_overlap").collect()
    }
    assert(e.getMessage.contains("non-empty main grid"))
    // same shape under "whole": both direct generation and regrid are empty
    assert(Regrid.regrid(spark, src, Fixtures.LuxWidth, Fixtures.LuxHeight,
      Fixtures.LuxHeight, 200, "whole").count() == 0)
    assert(graft.core.TileGrid.squareWindows(Fixtures.LuxHeight, 200,
      Fixtures.LuxWidth, Fixtures.LuxHeight, "whole").isEmpty)
  }

  test("general regrid: exact/128 source → every target grid equals direct generation") {
    val exact128 = Fixtures.luxTiles(spark, mode = "exact")
    // the last input is retile (gdal_retile parity, the `retile_64` query):
    // an overlapping whole_overlap/128 source re-cut to the 64 exact grid
    for ((src, (size, step, mode)) <- Seq(exact128 -> (128, 64, "whole_overlap"),
        exact128 -> (64, 64, "exact"), exact128 -> (128, 128, "whole_overlap"),
        exact128 -> (100, 50, "whole"), Fixtures.luxTiles(spark) -> (64, 64, "exact"))) {
      val got = Regrid.regrid(spark, src, Fixtures.LuxWidth, Fixtures.LuxHeight,
          size, step, mode)
        .collect().map(t => (t.i, t.j) -> t).toMap
      val want = Fixtures.luxTiles(spark, size, step, mode)
        .collect().map(t => (t.i, t.j) -> t).toMap
      assert(got.nonEmpty && got.keySet == want.keySet, s"grid keys for ($size,$step,$mode)")
      got.foreach { case (k, g) =>
        val w = want(k)
        assert(g.col_off == w.col_off && g.row_off == w.row_off &&
          g.width == w.width && g.height == w.height, s"window at $k ($size,$step,$mode)")
        assert(g.pixels.length == w.pixels.length, s"bands at $k ($size,$step,$mode)")
        g.pixels.zip(w.pixels).foreach { case (gb, wb) =>
          assert(gb.sameElements(wb), s"pixels at $k ($size,$step,$mode)")
        }
      }
    }
  }
}
