package graft.operators

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, InSet}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

import graft.sources.{Fixtures, IcebergLite}

/** North-rule resume semantics: (1) Structured Streaming checkpoint
  * kill/resume produces the same final sink; (2) IcebergLite manifest
  * anti-join resumes a partially-committed batch job without recomputing
  * or duplicating committed work (satproc skip-existing, F6). */
class ResumeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  test("streaming with checkpoint: restart after completion adds nothing; output equals batch") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    val sfDir = "/root/testdata/sf0.001"
    Streaming.eventCountsCheckpointed(spark, sfDir, s"$tmp/ckpt", s"$tmp/out")
    val first = spark.read.parquet(s"$tmp/out")
    val n1 = first.count()
    // restart with the same checkpoint: no new input ⇒ no duplicate output
    Streaming.eventCountsCheckpointed(spark, sfDir, s"$tmp/ckpt", s"$tmp/out")
    val n2 = spark.read.parquet(s"$tmp/out").count()
    assert(n1 == n2, "checkpointed restart must be exactly-once")
    // watermark append-mode emits only closed windows; every emitted row
    // must match the batch aggregation
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("hour"), col("event_type"), col("n"))
    val emitted = first.join(batch, Seq("hour", "event_type"))
      .where(first("n") === batch("n")).count()
    assert(emitted == n1, "all emitted windows must equal batch results")
  }

  test("IcebergLite: manifest anti-join resumes a partial run; snapshot isolation hides uncommitted work") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-iceberg").toString
    val table = new IcebergLite(tmp, spark)

    // full work list = the 8 lux tiles
    val work = Fixtures.luxTiles(spark).toDF()
      .select(concat_ws("_", col("raster_id"), col("i"), col("j")).as("tile_key"))

    // run 1 commits only 3 tiles (simulated crash after partial progress)
    val part1 = work.limit(3)
    table.commit(None, part1.select(col("tile_key").as("part_key")), "chips-append")
    assert(table.currentSnapshot() == 1)
    assert(table.manifests().count() == 3)

    // resume: pending = work anti-join manifest
    val pending = table.pendingWork(work, "tile_key")
    assert(pending.count() == 5)
    // committed keys are not in pending (no recompute), union is complete
    val all = pending.select("tile_key")
      .unionByName(table.manifests().select(col("part_key").as("tile_key")))
    assert(all.distinct().count() == 8)

    // run 2 commits the rest; resume now finds nothing
    table.commit(None, pending.select(col("tile_key").as("part_key")), "chips-append")
    assert(table.currentSnapshot() == 2)
    assert(table.pendingWork(work, "tile_key").count() == 0)

    // metrics side-table (north rule: per-partition lineage/metrics)
    table.appendMetrics(Seq(("job1", "chips", 0, 8L, 8L, 123L))
      .toDF("job_id", "stage", "partition", "rows_in", "rows_out", "wall_ms"))
    assert(table.metrics().count() == 1)
  }

  test("streaming dedup (flatMapGroupsWithState): single-batch run equals batch exact dedup; restart emits nothing") {
    val tmp = Files.createTempDirectory("graft-sdedup").toString
    val sfDir = "/root/testdata/sf0.001"
    Streaming.dedupStream(spark, sfDir, s"$tmp/ckpt", s"$tmp/out")
    val got = spark.read.parquet(s"$tmp/out")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = graft.operators.Dedup.exact(
        spark.read.parquet(s"$sfDir/documents.parquet"))
      .select("text_hash", "keeper_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want, "one AvailableNow batch must reproduce batch dedup keepers")
    // restart on the same checkpoint: state says every hash was emitted
    Streaming.dedupStream(spark, sfDir, s"$tmp/ckpt", s"$tmp/out")
    assert(spark.read.parquet(s"$tmp/out").count() == want.size)
  }

  test("torn commit: orphan data + manifest rows stay invisible; retry never reuses the id") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-torn").toString
    val table = new IcebergLite(tmp, spark)
    val batch = (0 until 10).map(k => (k.toLong, s"row$k")).toDF("id", "payload")

    // writer 1 crashes after writing data+manifest but before VERSION move
    table.commit(Some((batch, "rows")), batch.select(col("id").cast("string").as("part_key")),
      "ingest", abortBeforeVersionMove = true)
    assert(table.currentSnapshot() == 0, "torn commit must not advance VERSION")
    assert(table.readData("rows").count() == 0, "orphan data files must be invisible")
    assert(table.manifests().count() == 0, "orphan manifest rows must be invisible")
    assert(table.pendingWork(batch.select(col("id").cast("string").as("part_key")),
      "part_key").count() == 10, "resume must recompute everything after a torn commit")

    // the retry commits under a FRESH id (2, not 1) — the orphan id is burned,
    // so its files can never become visible retroactively
    val snap = table.commit(Some((batch, "rows")),
      batch.select(col("id").cast("string").as("part_key")), "ingest")
    assert(snap == 2)
    assert(table.currentSnapshot() == 2)
    assert(table.readData("rows").count() == 10, "exactly-once: no duplicates from the orphan")
    assert(table.manifests().count() == 10)
  }

  test("compaction: 200-commit table reads identically with O(1) planning state") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-compact").toString
    val table = new IcebergLite(tmp, spark)
    // 200 tiny commits (a long-lived append-only table): batch the data into
    // 200 single-row appends with per-commit manifests; one torn commit in
    // the middle leaves its data directory (id 101) on disk
    (0 until 200).foreach { k =>
      val row = Seq((k.toLong, s"payload$k")).toDF("id", "payload")
      if (k == 100) table.commit(Some((Seq((-1L, "torn")).toDF("id", "payload"), "rows")),
        Seq("torn").toDF("part_key"), "append", abortBeforeVersionMove = true)
      table.commit(Some((row, "rows")), Seq(s"part$k").toDF("part_key"), "append")
    }
    assert(table.committedSnapshots().length == 200)
    val before = table.readData("rows")
    val dataBefore = before.collect().map(_.toSeq).sortBy(_.toString)
    // the scan prunes by a static snapshot_id INSET of the 200 committed ids
    // and opens exactly the files under their directories, so the torn
    // commit's file is never read
    val scan = new AdaptiveSparkPlanHelper {}.collect(before.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scan.size == 1 && scan.head.partitionFilters.exists {
      case InSet(a: Attribute, ids) => a.name == "snapshot_id" && ids.size == 200
      case _ => false
    }, s"partition filters: ${scan.map(_.partitionFilters)}")
    def parquetFiles(ids: Seq[Long]): Int = ids.map { id =>
      val dir = java.nio.file.Paths.get(tmp, "data", "rows", s"snapshot_id=$id")
      Files.list(dir).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    }.sum
    assert(parquetFiles(Seq(101L)) >= 1, "the torn commit's data stays on disk")
    assert(scan.head.metrics("numFiles").value == parquetFiles(table.committedSnapshots()))
    val mfBefore = table.manifests().select("part_key").as[String].collect().sorted
    val work = (0 until 300).map(k => s"part$k").toDF("part_key")
    val pendingBefore = table.pendingWork(work, "part_key").as[String].collect().sorted

    table.compact()

    // planning state is O(1): one committed snapshot, one manifest file,
    // one data directory
    assert(table.committedSnapshots() == Seq(202L))
    val mfFiles = Files.list(java.nio.file.Paths.get(tmp, "metadata", "manifests"))
      .iterator(); var nMf = 0
    while (mfFiles.hasNext) { if (mfFiles.next().toString.endsWith(".parquet")) nMf += 1 }
    assert(nMf == 1, "manifests must compact to one file")
    val dataDirs = Files.list(java.nio.file.Paths.get(tmp, "data", "rows"))
      .iterator().asScala.count(_.getFileName.toString.startsWith("snapshot_id="))
    assert(dataDirs == 1, "superseded data dirs must be expired")

    // reads are bit-identical
    assert(table.readData("rows").collect().map(_.toSeq).sortBy(_.toString)
      .sameElements(dataBefore))
    assert(table.manifests().select("part_key").as[String].collect().sorted
      .sameElements(mfBefore))
    assert(table.pendingWork(work, "part_key").as[String].collect().sorted
      .sameElements(pendingBefore))

    // and the table keeps working: a post-compaction commit appends normally
    table.commit(Some((Seq((999L, "late")).toDF("id", "payload"), "rows")),
      Seq("part999").toDF("part_key"), "append")
    assert(table.readData("rows").count() == 201)
    assert(table.committedSnapshots() == Seq(202L, 203L))
  }

  test("time travel: as-of(s1) differs from current after append, equals it at head, errors on torn/expired ids") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-tt").toString
    val table = new IcebergLite(tmp, spark)
    val b1 = (0 until 5).map(k => (k.toLong, s"v$k")).toDF("id", "payload")
    val s1 = table.commit(Some((b1, "rows")), b1.select(col("id").cast("string").as("part_key")), "append")
    // a torn commit burns an id that must never become travelable
    val torn = table.commit(Some((b1, "rows")),
      b1.select(col("id").cast("string").as("part_key")), "append", abortBeforeVersionMove = true)
    val b2 = (5 until 9).map(k => (k.toLong, s"v$k")).toDF("id", "payload")
    val s2 = table.commit(Some((b2, "rows")), b2.select(col("id").cast("string").as("part_key")), "append")

    // as-of(s1) ≠ current after the append; as-of(head) == current read
    assert(table.readDataAsOf("rows", s1).count() == 5)
    assert(table.readData("rows").count() == 9)
    assert(table.readDataAsOf("rows", s2).collect().map(_.toSeq).toSet ==
      table.readData("rows").collect().map(_.toSeq).toSet)
    assert(table.manifestsAsOf(s1).count() == 5)
    // historical resume decision: after s1, b2's keys were still pending
    val work = (0 until 9).map(_.toString).toDF("part_key")
    assert(table.pendingWorkAsOf(work, "part_key", s1).as[String].collect().sorted
      .sameElements((5 until 9).map(_.toString)))
    assert(table.pendingWorkAsOf(work, "part_key", s2).count() == 0)

    // torn id: never committed, must error rather than read empty
    intercept[IllegalArgumentException](table.readDataAsOf("rows", torn))
    // compaction expires s1/s2 — the pin is gone and must say so
    table.compact()
    intercept[IllegalArgumentException](table.readDataAsOf("rows", s1))
    assert(table.readDataAsOf("rows", table.currentSnapshot()).count() == 9)
  }

  /** The visible parquet files directly under `dir` (none if it is absent). */
  private def parquetFiles(dir: String): Seq[java.nio.file.Path] =
    if (!Files.isDirectory(java.nio.file.Paths.get(dir))) Nil
    else {
      val s = Files.list(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.filter { p =>
        val name = p.getFileName.toString
        name.endsWith(".parquet") && !name.startsWith(".")
      }.toList.sortBy(_.toString)
      finally s.close()
    }

  /** Replaces the one parquet file in `dir` that is not in `earlier` with
    * the same rows as a Spark write job lays them out. */
  private def rewriteBySpark(dir: String, earlier: Set[java.nio.file.Path]): Unit = {
    val file = (parquetFiles(dir).toSet -- earlier).head
    val written = spark.read.parquet(file.toString)
    val rows = written.collect()
    Files.delete(file)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), written.schema)
      .coalesce(1).write.mode(SaveMode.Append).parquet(dir)
  }

  test("side-table files written by the driver read back like Spark-written ones; dot-prefixed leftovers stay invisible") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-mixed").toString
    val table = new IcebergLite(tmp, spark)
    val lineage = Seq(("t_0_0", 0, 0, 0L, 16), ("t_0_1", 0, 1, 0L, 16))
      .toDF("tile_key", "i", "j", "input_snapshot", "cell_res")
    table.appendLineage(lineage)
    lineage.coalesce(1).write.mode(SaveMode.Append).parquet(s"$tmp/metadata/lineage")
    val files = parquetFiles(s"$tmp/metadata/lineage")
    assert(files.length == 2)
    val reads = files.map(f => spark.read.parquet(f.toString))
    assert((spark.read.parquet(s"$tmp/metadata/lineage").schema +: reads.map(_.schema)).distinct.length == 1)
    assert(reads.head.schema.map(f => (f.name, f.dataType, f.nullable)) ==
      lineage.schema.map(f => (f.name, f.dataType, true)))
    val rows = reads.map(_.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    assert(rows.distinct.length == 1 && rows.head.length == 2)

    // a dot-prefixed leftover carrying a committed id is never read
    val work = Seq("a", "b", "c", "d").toDF("part_key")
    table.commit(None, Seq("a", "b").toDF("part_key"), "append")
    val mfBefore = table.manifests().collect().map(_.toSeq).sortBy(_.toString).toSeq
    val pendingBefore = table.pendingWork(work, "part_key").as[String].collect().sorted.toSeq
    val ghostDir = s"$tmp/ghost"
    Seq(("c", table.currentSnapshot())).toDF("part_key", "snapshot_id")
      .write.parquet(ghostDir)
    Files.copy(parquetFiles(ghostDir).head,
      java.nio.file.Paths.get(tmp, "metadata", "manifests", ".part-00000-leftover.snappy.parquet.tmp"))
    assert(table.manifests().collect().map(_.toSeq).sortBy(_.toString).toSeq == mfBefore)
    assert(table.pendingWork(work, "part_key").as[String].collect().sorted.toSeq == pendingBefore)
    assert(pendingBefore == Seq("c", "d"))
  }

  test("compaction over manifests written by Spark and by the driver leaves one manifest file and identical reads") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-mixed-compact").toString
    val table = new IcebergLite(tmp, spark)
    val mfDir = s"$tmp/metadata/manifests"
    (0 until 4).foreach { k =>
      val keys = Seq(s"part${2 * k}", s"part${2 * k + 1}")
      val earlier = parquetFiles(mfDir).toSet
      table.commit(Some((keys.map(key => (k.toLong, key)).toDF("id", "payload"), "rows")),
        keys.toDF("part_key"), "append")
      // rewrite this commit's manifest file the way a Spark write job lays it out
      if (k % 2 == 0) rewriteBySpark(mfDir, earlier)
    }
    assert(parquetFiles(mfDir).length == 4)
    val work = (0 until 10).map(k => s"part$k").toDF("part_key")
    def state() = (
      table.readData("rows").collect().map(_.toSeq).sortBy(_.toString).toSeq,
      table.manifests().select("part_key").as[String].collect().sorted.toSeq,
      table.pendingWork(work, "part_key").as[String].collect().sorted.toSeq)
    val before = state()
    assert(before._2.length == 8 && before._3 == Seq("part8", "part9"))

    table.compact()
    assert(parquetFiles(mfDir).length == 1, "manifests must compact to one file")
    assert(state() == before)
  }

  test("the driver reads the manifest back: the rows of a Spark read of the committed files, string and long keys, no job") {
    for (longKeys <- Seq(false, true)) {
      val tmp = Files.createTempDirectory("graft-mfread").toString
      val table = new IcebergLite(tmp, spark)
      val mfDir = s"$tmp/metadata/manifests"
      def keys(lo: Long, hi: Long) = {
        val id = spark.range(lo, hi).toDF("id")
        if (longKeys) id.select(col("id").as("part_key")) else id.select(col("id").cast("string").as("part_key"))
      }
      // commits of keys [3k, 3k+3), k = 0..4; the third is torn; every
      // second manifest file is rewritten the way a Spark write lays it out
      val snaps = (0 until 5).map { k =>
        val earlier = parquetFiles(mfDir).toSet
        val batch = keys(3L * k, 3L * k + 3)
        val snap = table.commit(Some((batch, "rows")), batch, "append", abortBeforeVersionMove = k == 2)
        if (k % 2 == 1) rewriteBySpark(mfDir, earlier)
        snap
      }
      // a dot-prefixed leftover carrying a committed id
      val ghostDir = s"$tmp/ghost"
      keys(100, 103).withColumn("snapshot_id", lit(snaps.head)).coalesce(1).write.parquet(ghostDir)
      Files.copy(parquetFiles(ghostDir).head,
        java.nio.file.Paths.get(mfDir, ".part-00000-leftover.snappy.parquet"))

      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).sortBy(_.toString).toSeq
      def sparkRead(visible: Seq[Long]) =
        spark.read.parquet(mfDir).where(col("snapshot_id").isin(visible: _*))
      val work = keys(0, 20)
      def pending(mf: org.apache.spark.sql.DataFrame) =
        rows(work.join(mf.select("part_key"), Seq("part_key"), "left_anti"))
      val committed = table.committedSnapshots()
      val asOf = committed.take(2)
      assert(committed == Seq(snaps(0), snaps(1), snaps(3), snaps(4)))

      val (current, jobs) = SparkTestSession.countJobs(rows(table.manifests()))
      assert(jobs == 0, s"manifests() ran $jobs jobs")
      assert(table.manifests().schema == sparkRead(committed).schema)
      assert(current == rows(sparkRead(committed)))
      assert(current.length == 12)
      assert(rows(table.manifestsAsOf(snaps(1))) == rows(sparkRead(asOf)))
      assert(rows(table.pendingWork(work, "part_key")) == pending(sparkRead(committed)))
      assert(rows(table.pendingWorkAsOf(work, "part_key", snaps(1))) == pending(sparkRead(asOf)))
      // the torn commit's keys stay pending; the leftover's never show
      val key: Long => Any = if (longKeys) k => k else k => k.toString
      assert(rows(table.pendingWork(work, "part_key")).map(_.head) ==
        ((6L until 9L) ++ (15L until 20L)).map(key).sortBy(_.toString))
      assert(!current.map(_.head).contains(key(100L)))
    }
  }

  test("pages written Iceberg-style and read back preserve the text invariant") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-pages").toString
    val table = new IcebergLite(tmp, spark)
    val pages = Fixtures.pages(spark, 1000)
    // partition the data files by lang (a stand-in for cell_prefix/days at scale)
    table.commit(Some((pages.toDF(), "pages")),
      pages.select(col("lang").as("part_key")).distinct().toDF(), "pages-ingest")
    val back = table.readData("pages")
    assert(back.count() == 1000)
    val bad = back.as[graft.sources.Model.Page]
      .map(p => Fixtures.extractText(p.html) == p.text).filter(x => !x).count()
    assert(bad == 0)
  }
}
