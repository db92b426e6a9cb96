package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Geom
import graft.sources.Fixtures

/** End-to-end golden counts from the reference test suite
  * (tests/test_extract_chips.py, tests/test_make_masks.py), reproduced on
  * the deterministic lux1 twins (FIXTURES.md). */
class ChipPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import ChipPipeline._

  test("basic extract: 8 chips on the lux1 grid (test_extract_chips.py:26-41)") {
    val tiles = Fixtures.luxTiles(spark)
    val chips = extractChips(spark, tiles, Fixtures.luxMeta(),
      cfg = ChipConfig(bands = Some(Seq(1, 2, 3, 4))))
    val got = chips.collect()
    assert(got.length == 8)
    assert(got.map(c => (c.i, c.j)).toSet ==
      (for (i <- 0 to 1; j <- 0 to 3) yield (i, j)).toSet)
    assert(got.forall(_.img_f32 != null)) // no rescale → float chips
    assert(got.map(_.filename).toSet.contains("lux1_0_0.tif"))
  }

  test("labels + percentiles rescale: 5 chips + 5 extent masks (test_extract_chips.py:44-71)") {
    val tiles = Fixtures.luxTiles(spark)
    val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }
    val chips = extractChips(spark, tiles, Fixtures.luxMeta(),
      labels = Some(labels),
      cfg = ChipConfig(bands = Some(Seq(1, 2, 3, 4)),
        rescaleMode = Some("percentiles"), rescaleRange = (2, 98)))
    val got = chips.collect()
    assert(got.length == 5, s"got tiles ${got.map(c => (c.i, c.j)).toSeq}")
    assert(got.map(c => (c.i, c.j)).toSet == Set((0, 0), (0, 1), (1, 0), (1, 1), (1, 3)))
    assert(got.forall(_.img_u8 != null)) // rescaled → uint8
    val masks = masksOf(spark, chips).collect()
    assert(masks.length == 5) // one extent mask per chip, single "_any" class
  }

  test("AOI + values rescale: 4 chips, 4 masks, 4 footprints (test_extract_chips.py:74-109)") {
    val tiles = Fixtures.luxTiles(spark)
    val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }
    val aoi = Geom.toWkb(Geom.unaryUnion(Fixtures.aoiGeoms()))
    val chips = extractChips(spark, tiles, Fixtures.luxMeta(),
      labels = Some(labels), aoiWkb = Some(aoi),
      cfg = ChipConfig(bands = Some(Seq(1, 2, 3, 4)),
        rescaleMode = Some("values"), rescaleRange = (0.0, 0.3)))
    val got = chips.collect()
    assert(got.length == 4, s"got tiles ${got.map(c => (c.i, c.j)).toSeq}")
    assert(got.map(c => (c.i, c.j)).toSet == Set((0, 0), (0, 1), (1, 0), (1, 1)))
    val fps = footprints(chips).collect()
    assert(fps.length == 4)
    // footprint ids are 0..3 in (i,j) order; x=i, y=j quirk preserved
    assert(fps.map(_.getAs[Long]("id")).toSeq.sorted == Seq(0L, 1L, 2L, 3L))
    val masks = masksOf(spark, chips).collect()
    assert(masks.length == 4)
  }

  test("whole-raster mask, classes=[A]: 1 extent mask (test_make_masks.py:15-30)") {
    // make_masks = extract on the full-extent single window (S3)
    val meta = Fixtures.luxMeta()
    // full-extent single tile: synthesized inside its one task (as a local
    // relation its 1.6 MB of pixels would ship with the task)
    import spark.implicits._
    val (w, h, nBands) = (meta.width, meta.height, meta.bands)
    val full = spark.range(0, 1, 1, 1).map { _ =>
      graft.sources.Model.Tile("lux1", 0, 0, 0, 0, w, h,
        Array.tabulate(nBands) { bi =>
          Array.tabulate(w * h)(k => Fixtures.luxValue(bi + 1, k / w, k % w))
        })
    }
    val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }
    val chips = extractChips(spark, full, meta, labels = Some(labels),
      cfg = ChipConfig(bands = Some(Seq(1, 2, 3, 4)), classes = Some(Seq("A"))))
    val masks = masksOf(spark, chips).collect()
    assert(masks.length == 1)
    assert(masks.head.getAs[String]("kind") == "extent")
    // the mask has burned pixels (labels are inside the raster)
    assert(masks.head.getAs[Array[Byte]]("mask").exists(_ != 0))
  }

  test("distance + boundary masks compute and are band-per-class") {
    val tiles = Fixtures.luxTiles(spark)
    val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }
    val chips = extractChips(spark, tiles, Fixtures.luxMeta(),
      labels = Some(labels),
      cfg = ChipConfig(bands = Some(Seq(1, 2, 3, 4)), classes = Some(Seq("A")),
        masks = Set("extent", "boundary", "distance")))
    val masks = masksOf(spark, chips).collect()
    assert(masks.map(_.getAs[String]("kind")).toSet == Set("extent", "boundary", "distance"))
    // distance interior exceeds boundary-adjacent values somewhere
    val dist = masks.filter(_.getAs[String]("kind") == "distance")
      .flatMap(_.getAs[Array[Byte]]("mask").map(_ & 0xff))
    assert(dist.max > 1)
  }
}

/** One session for all suites (guide: one SparkSession per JVM). */
object SparkTestSession {
  lazy val get: SparkSession = graft.Config.session(4)

  /** Jobs `f` submits, counted by a listener on its own job group. */
  def countJobs[A](f: => A): (A, Int) = {
    val sc = get.sparkContext
    val group = s"count-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "count jobs")
      val a = try f finally sc.clearJobGroup()
      org.apache.spark.graft.ListenerBusFlush.flush(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
