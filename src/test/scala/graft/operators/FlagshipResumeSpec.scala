package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.core.Geom
import graft.sources.{Fixtures, IcebergLite}
import graft.sources.Model.Page

/** North-rule end-to-end on the flagship: first run commits all tiles with
  * manifest + lineage + metrics; a crash-rerun commits nothing new; after
  * invalidating part of the manifest, resume recomputes ONLY the missing
  * tiles and the final table equals a from-scratch run. The skip-existing
  * decision is made on the tile grid against the manifest read on the
  * driver, so a resume over a fully committed table reads no pages and
  * runs no job. */
class FlagshipResumeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import SparkTestSession.countJobs

  test("flagship resumable run: exactly-once commit, partial-manifest resume") {
    val tmp = Files.createTempDirectory("flagship").toString
    val table = new IcebergLite(tmp, spark)
    val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }
    def run(): Long = PagesTiling.extractChipsResumable(spark,
      Fixtures.pages(spark, 20000), Fixtures.luxMeta(), table, Some(labels))

    assert(run() == 8) // first run commits all 8 tiles
    assert(run() == 0) // rerun: manifest anti-join finds nothing pending
    val data = table.readData("chips")
    assert(data.count() == 8)
    // lineage + metrics side-tables populated
    assert(spark.read.parquet(s"$tmp/metadata/lineage").count() == 8)
    assert(table.metrics().where(col("stage") === "chips").count() == 1)

    // simulate a partially-committed job: rebuild the table with only 3
    // manifest rows committed, then resume
    val tmp2 = Files.createTempDirectory("flagship2").toString
    val table2 = new IcebergLite(tmp2, spark)
    val all = table.readData("chips")
      .withColumn("tile_key", concat_ws("_", col("raster_id"), col("i"), col("j")))
    val part = all.limit(3)
    table2.commit(Some((part.drop("tile_key"), "chips")),
      part.select(col("tile_key").as("part_key")), "chips-append")
    val resumed = PagesTiling.extractChipsResumable(spark,
      Fixtures.pages(spark, 20000), Fixtures.luxMeta(), table2, Some(labels))
    assert(resumed == 5) // only the 5 missing tiles recomputed
    val final2 = table2.readData("chips")
    assert(final2.count() == 8)
    // resumed table content equals the from-scratch run (same tiles, same counts)
    val a = data.select("raster_id", "i", "j", "n_pages").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    val b = final2.select("raster_id", "i", "j", "n_pages").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(a == b)
  }

  private lazy val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  test("resume over a fully committed table: returns 0, reads no pages file, runs no job") {
    import spark.implicits._
    val pagesDir = Files.createTempDirectory("flagship-pages")
    Fixtures.pages(spark, 20000, partitions = 4).write.mode("overwrite").parquet(pagesDir.toString)
    val pages = spark.read.parquet(pagesDir.toString).as[Page]
    val table = new IcebergLite(Files.createTempDirectory("flagship-full").toString, spark)
    assert(PagesTiling.extractChipsResumable(spark, pages, Fixtures.luxMeta(), table, Some(labels)) == 8)

    // any scan of `pages` now fails on the missing files
    deleteTree(pagesDir)
    val (resumed, jobs) = countJobs(
      PagesTiling.extractChipsResumable(spark, pages, Fixtures.luxMeta(), table, Some(labels)))
    assert(resumed == 0)
    // measured: 0 jobs (the manifest is read on the driver); reading it
    // with a Spark scan and anti-joining the grid against it ran 3
    assert(jobs == 0, s"resume over a committed table ran $jobs jobs")
    assert(table.committedSnapshots().size == 1)
  }

  test("metadata row sets are written by the driver: a local manifest, lineage or metrics frame runs no job") {
    import spark.implicits._
    val table = new IcebergLite(Files.createTempDirectory("flagship-local").toString, spark)
    val (snap, commitJobs) = countJobs(
      table.commit(None, Seq("a", "b", "c").toDF("part_key"), "append"))
    val (_, lineageJobs) = countJobs(table.appendLineage(
      Seq(("a", 0, 1, snap, 16)).toDF("tile_key", "i", "j", "input_snapshot", "cell_res")))
    val (_, metricsJobs) = countJobs(table.appendMetrics(
      Seq(("job1", "chips", 0, 3L, 3L, 7L)).toDF("job_id", "stage", "partition", "rows_in", "rows_out", "wall_ms")))
    // a Spark parquet write per row set ran 2, 1 and 1 jobs
    assert((commitJobs, lineageJobs, metricsJobs) == ((0, 0, 0)))
    assert(table.manifests().select("part_key").as[String].collect().sorted.sameElements(Seq("a", "b", "c")))
    assert(table.metrics().count() == 1)
  }

  test("a committing run on a fresh table writes only its chips with a Spark job: at most 3 jobs") {
    val table = new IcebergLite(Files.createTempDirectory("flagship-jobs").toString, spark)
    val pages = Fixtures.pages(spark, 20000)
    val (n, jobs) = countJobs(
      PagesTiling.extractChipsResumable(spark, pages, Fixtures.luxMeta(), table, Some(labels)))
    assert(n == 8)
    // measured: 3 jobs (the tile table's broadcast, the pages scan into the
    // tile aggregate's shuffle, the chips write, which also reports the
    // chip facts); caching the chips and collecting the facts before the
    // write ran 5, and a Spark write per metadata row set 10
    assert(jobs <= 3, s"the committing run ran $jobs jobs")
  }

  test("a run whose open windows hold no page commits nothing and leaves no data file") {
    val root = Files.createTempDirectory("flagship-empty")
    val table = new IcebergLite(root.toString, spark)
    // the lux raster moved a degree east of every page
    val away = Fixtures.luxMeta().copy(c = Fixtures.LuxOriginX + 1.0)
    assert(PagesTiling.extractChipsResumable(spark, Fixtures.pages(spark, 2000), away,
      table, Some(labels)) == 0)
    assert(table.committedSnapshots().isEmpty)
    assert(!Files.exists(root.resolve("VERSION")))
    def parquetUnder(dir: Path): Int =
      if (!Files.exists(dir)) 0
      else {
        val s = Files.walk(dir)
        try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }
    assert(parquetUnder(root.resolve("data")) == 0)
    assert(parquetUnder(root.resolve("metadata")) == 0, "no manifest, snapshot, lineage or metrics row")

    // the burned id leaves the table usable: the raster's own run commits
    // all 8 tiles as the table's one snapshot
    assert(PagesTiling.extractChipsResumable(spark, Fixtures.pages(spark, 20000),
      Fixtures.luxMeta(), table, Some(labels)) == 8)
    assert(table.committedSnapshots().size == 1)
    assert(table.readData("chips").count() == 8)
  }

  test("snapshot rows equal each snapshot's manifest row count, empty manifests included") {
    import spark.implicits._
    val root = Files.createTempDirectory("flagship-rows").toString
    val table = new IcebergLite(root, spark)
    def commitWithin(manifest: org.apache.spark.sql.DataFrame): Long =
      Await.result(Future(table.commit(None, manifest, "append")), 2.minutes)
    commitWithin(spark.range(0, 7, 1, 3).select(col("id").cast("string").as("part_key")))
    commitWithin(Seq.empty[String].toDF("part_key"))
    commitWithin(spark.range(0, 50, 1, 4).where(col("id") < 0)
      .select(col("id").cast("string").as("part_key")))
    PagesTiling.extractChipsResumable(spark, Fixtures.pages(spark, 20000),
      Fixtures.luxMeta(), table, Some(labels))

    // (recorded rows, manifest rows) per committed snapshot
    def rowsPerSnapshot(): Seq[(Long, Long)] = {
      val recorded = spark.read.parquet(s"$root/metadata/snapshots")
        .select("snapshot_id", "rows").as[(Long, Long)].collect().toMap
      val manifestRows = table.manifests().groupBy("snapshot_id").count()
        .as[(Long, Long)].collect().toMap
      table.committedSnapshots().map(s => (recorded(s), manifestRows.getOrElse(s, 0L)))
    }
    assert(rowsPerSnapshot() == Seq((7L, 7L), (0L, 0L), (0L, 0L), (8L, 8L)))
    // compaction rewrites every manifest row under one snapshot
    table.compact()
    assert(rowsPerSnapshot() == Seq((15L, 15L)))
  }

  test("metrics side-table: fixed schema; the summary row sums the detail rows") {
    val root = Files.createTempDirectory("flagship-metrics").toString
    val table = new IcebergLite(root, spark)
    assert(PagesTiling.extractChipsResumable(spark, Fixtures.pages(spark, 20000),
      Fixtures.luxMeta(), table, Some(labels), jobId = "metrics-spec") == 8)
    val m = table.metrics()
    assert(m.schema.map(f => (f.name, f.dataType)) == Seq(
      "partition" -> IntegerType, "rows_in" -> LongType, "rows_out" -> LongType,
      "checksum" -> LongType, "stage" -> StringType, "job_id" -> StringType,
      "wall_ms" -> LongType, "skew_salt" -> IntegerType))
    val rows = m.collect()
    val (summary, detail) = rows.partition(_.getAs[Int]("partition") == -1)
    assert(summary.length == 1 && summary.head.getAs[String]("stage") == "chips")
    assert(detail.nonEmpty && detail.forall(_.getAs[String]("stage") == "chips.partitions"))
    assert(detail.map(_.getAs[Int]("partition")).distinct.length == detail.length)
    for (k <- Seq("rows_in", "rows_out", "checksum"))
      assert(summary.head.getAs[Long](k) == detail.map(_.getAs[Long](k)).sum, k)
    assert(summary.head.getAs[Long]("rows_out") == 8)
    assert(summary.head.getAs[Long]("rows_in") ==
      table.manifests().agg(sum("n_pages")).head().getLong(0))
    assert(rows.forall(r => r.getAs[String]("job_id") == "metrics-spec" &&
      r.getAs[Int]("skew_salt") == 1))
    assert(rows.map(_.getAs[Long]("wall_ms")).distinct.length == 1)
  }
}
