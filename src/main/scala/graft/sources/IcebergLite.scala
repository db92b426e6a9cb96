package graft.sources

import org.apache.hadoop.fs.{Path => FsPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, VectorizedParquetRecordReader}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import scala.jdk.CollectionConverters._

/** Minimal Iceberg-style table layout (no Iceberg runtime is available in
  * this environment — SURVEY.md §7.4/§7.3 item 5): Parquet data files plus
  * append-only metadata side-tables with snapshot semantics at the logical
  * level:
  *
  *   <root>/data/<sub>/snapshot_id=<snap>/   parquet data, tied to a snapshot
  *   <root>/metadata/snapshots/     snapshot_id, ts_ms, operation, rows
  *   <root>/metadata/manifests/     snapshot_id, partition key, rows, status
  *   <root>/metadata/metrics/       per-partition job metrics (north rule)
  *   <root>/metadata/lineage/       output key → input snapshot/cell range
  *   <root>/SEQ                     persisted snapshot-id counter (atomic move)
  *   <root>/VERSION                 committed snapshot ids, one per line
  *
  * Commit = allocate a FRESH snapshot id from the persisted SEQ counter,
  * write data under data/<sub>/snapshot_id=<snap>/, THEN build and append
  * the manifest + snapshot row carrying that id, then atomically append the
  * id to VERSION. Readers ([[readData]], [[manifests]]) resolve VERSION
  * first and select only rows/files of committed snapshots (data reads
  * through a static `snapshot_id IN (…)` partition filter, which the scan
  * prunes by at planning time whatever the id count), so a crashed
  * writer's orphan files and manifest rows stay invisible forever (snapshot
  * isolation for append-only workloads): a torn commit's id is consumed by
  * SEQ and never appears in VERSION, and the retry runs under a new id, so
  * no replay can resurrect orphans. The snapshot row's `rows` is the number
  * of manifest rows the commit wrote.
  *
  * Commit protocol, as Iceberg splits it: data files are written by Spark
  * tasks (one write job per commit); the driver writes the manifest,
  * snapshot, lineage and metrics rows, one parquet file per row set
  * ([[writeLocal]]), and reads the manifest back itself ([[readManifests]])
  * when it plans a resume, as Iceberg plans scans from manifest files on
  * the driver. Those row sets hold one row per work unit and must stay
  * driver-sized. Because the manifest is built after the data write, a
  * writer can derive it from facts the write itself reported.
  *
  * The manifest table doubles as the resume mechanism ([[pendingWork]]):
  * work units whose key a committed snapshot already holds are anti-joined
  * away (satproc's skip-existing, F6, reference: satproc/chips.py:227-233).
  * Callers decide at the granularity of their work unit, before the work:
  * `PagesTiling.extractChipsResumable` removes the manifest's keys from the
  * raster's tile keys on the driver and reads pages only for the tiles
  * still open.
  */
class IcebergLite(root: String, spark: SparkSession) {
  private val metaDir = s"$root/metadata"
  private def versionFile = Paths.get(root, "VERSION")
  private def seqFile = Paths.get(root, "SEQ")

  /** NIO directory streams hold an open fd until closed — every
    * Files.list/Files.walk here runs under this loan so maintenance calls
    * can't leak descriptors. */
  private def withStream[A, B](s: java.util.stream.Stream[A])(f: java.util.stream.Stream[A] => B): B =
    try f(s) finally s.close()

  /** Committed snapshot ids in commit order (VERSION file, one per line). */
  def committedSnapshots(): Seq[Long] =
    if (Files.exists(versionFile))
      new String(Files.readAllBytes(versionFile)).split('\n')
        .iterator.map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
    else Seq.empty

  def currentSnapshot(): Long = committedSnapshots().lastOption.getOrElse(0L)

  /** Committed ids visible AS OF snapshot `snap`: the VERSION prefix ending
    * at `snap` (VERSION is append-only in commit order, so the prefix IS the
    * table state right after that commit published). Travelling to an id not
    * in VERSION — never allocated, torn (allocated but never published), or
    * expired by [[compact]] — is an error rather than an empty read, matching
    * Iceberg's snapshot-expiry semantics: the caller must know its pin is
    * gone, not silently retrain on zero rows. */
  def committedSnapshotsAsOf(snap: Long): Seq[Long] = {
    val committed = committedSnapshots()
    val idx = committed.indexOf(snap)
    require(idx >= 0,
      s"snapshot $snap is not visible: never committed, torn, or expired by compaction " +
        s"(committed: ${committed.mkString("[", ",", "]")})")
    committed.take(idx + 1)
  }

  /** Allocate a fresh snapshot id from the persisted counter. Ids consumed
    * by torn commits are never reused, so a retry can never write under an
    * orphan's id and accidentally legitimize its files. */
  private def allocateSnapshotId(): Long = {
    Files.createDirectories(Paths.get(root))
    val prev =
      if (Files.exists(seqFile)) new String(Files.readAllBytes(seqFile)).trim.toLong
      else 0L
    val next = prev + 1
    val tmp = Paths.get(root, s".SEQ.$next.tmp")
    Files.write(tmp, next.toString.getBytes, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, seqFile, ATOMIC_MOVE, REPLACE_EXISTING)
    next
  }

  /** Append a data batch as a new snapshot. `manifest` must contain one row
    * per logical work unit (e.g. tile) with a `part_key` column; it is
    * evaluated after the data write, so it may read what the write
    * observed. A data commit whose manifest is empty publishes nothing: its
    * data directory is deleted and neither a manifest, a snapshot row nor a
    * VERSION line is written (its id is burned, as a torn commit's is).
    * Returns the snapshot id. `abortBeforeVersionMove` is a crash-injection
    * hook for tests: it simulates a writer dying after all file writes but
    * before the atomic VERSION publish (the torn-commit window). */
  def commit(data: Option[(DataFrame, String)], manifest: => DataFrame,
             operation: String, abortBeforeVersionMove: Boolean = false): Long = {
    val snap = allocateSnapshotId()
    data.foreach { case (df, sub) =>
      df.write.mode(SaveMode.Append).parquet(s"$root/data/$sub/snapshot_id=$snap")
    }
    val mf = manifest.withColumn("snapshot_id", lit(snap))
    val rows = mf.collect()
    if (data.nonEmpty && rows.isEmpty) {
      data.foreach { case (_, sub) =>
        // an emptied sub-table directory goes too: readers take an
        // absent directory for a sub-table that was never written
        val subDir = Paths.get(root, "data", sub)
        val written = subDir.resolve(s"snapshot_id=$snap")
        if (Files.exists(written)) deleteTree(written)
        if (Files.isDirectory(subDir) && withStream(Files.list(subDir))(!_.iterator().hasNext))
          Files.delete(subDir)
      }
      return snap
    }
    writeLocal(mf.schema, rows, s"$metaDir/manifests")
    writeSnapshot(snap, operation, rows.length)
    if (abortBeforeVersionMove) return snap // simulated crash: id burned, nothing published
    val tmp = Paths.get(root, s".VERSION.$snap.tmp")
    Files.write(tmp, (committedSnapshots() :+ snap).mkString("\n").getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, versionFile, ATOMIC_MOVE, REPLACE_EXISTING)
    snap
  }

  private def writeSnapshot(snap: Long, operation: String, rows: Long): Unit =
    writeLocal(spark.createDataFrame(Seq((snap, System.currentTimeMillis(), operation, rows)))
      .toDF("snapshot_id", "ts_ms", "operation", "rows"), s"$metaDir/snapshots")

  /** Deletes `dir` and everything under it. */
  private def deleteTree(dir: java.nio.file.Path): Unit =
    withStream(Files.walk(dir))(_.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(Files.delete(_)))

  /** [[writeLocal]] of a driver-sized frame, collected (a local frame
    * collects without a job). Returns the number of rows written. */
  private def writeLocal(df: DataFrame, dir: String): Long = {
    val rows = df.collect()
    writeLocal(df.schema, rows, dir)
    rows.length
  }

  /** The driver's writer for metadata row sets: writes `rows` as one
    * parquet file in `dir` through Spark's own parquet writer, with the
    * all-nullable schema Spark's file writes record. The file is written
    * under a dot-prefixed name, which readers skip, and renamed into place
    * (its `.crc` moves with it), so a crash mid-write leaves nothing
    * visible. An empty row set still writes a file, so the directory always
    * carries its schema. */
  private def writeLocal(rowSchema: StructType, rows: Array[Row], dir: String): Unit = {
    val schema = rowSchema.toNullable
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val format = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${java.util.UUID.randomUUID()}${format.getFileExtension(ctx)}"
    val tmp = new FsPath(dir, s".$name.tmp")
    val out = format.newInstance(tmp.toString, schema, ctx)
    val toRow = ExpressionEncoder(schema).createSerializer()
    try rows.foreach(r => out.write(toRow(r))) finally out.close()
    val dst = new FsPath(dir, name)
    require(dst.getFileSystem(job.getConfiguration).rename(tmp, dst), s"could not publish $dst")
  }

  /** The driver's reader for the manifest, the mirror of [[writeLocal]]:
    * reads every visible parquet file of `metadata/manifests` (dot and
    * underscore files are skipped, as Spark's file listing skips them) with
    * Spark's own parquet reader and returns the rows of the `visible`
    * snapshots as a local frame, so nothing that reads it needs a job for
    * the manifest side. Files that differ in columns (a manifest with extra
    * per-unit columns beside one with `part_key` only) read under their
    * union, in first-seen column order, with null where a file lacks a
    * column. */
  private def readManifests(visible: Seq[Long]): DataFrame = {
    val ids = visible.toSet
    val files = withStream(Files.list(Paths.get(metaDir, "manifests")))(_.iterator().asScala
      .filter { p =>
        val name = p.getFileName.toString
        name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")
      }.map(_.toString).toList.sorted)
    val parts = files.map { file =>
      val reader = new ManifestFileReader
      try {
        reader.initialize(file, null)
        val schema = reader.schema
        val snapIdx = schema.fieldIndex("snapshot_id")
        val toRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
        val rows = Iterator.continually(reader).takeWhile(_.nextKeyValue())
          .map(_.getCurrentValue.asInstanceOf[InternalRow])
          .filter(r => ids(r.getLong(snapIdx))).map(toRow).toList
        (schema, rows)
      } finally reader.close()
    }
    val fields = parts.flatMap(_._1.fields).map(_.copy(nullable = true)).distinct
    val names = fields.map(_.name)
    require(names.distinct.length == names.length,
      s"manifest files disagree on column types: ${fields.mkString(", ")}")
    val schema = StructType(fields)
    val rows = parts.flatMap { case (s, rs) =>
      val idx = names.map(n => if (s.fieldNames.contains(n)) s.fieldIndex(n) else -1)
      rs.map(r => Row.fromSeq(idx.map(i => if (i < 0) null else r.get(i))))
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Spark's vectorized parquet reader, opened on one whole file; exposes
    * the Spark schema it reads the file under. */
  private class ManifestFileReader extends VectorizedParquetRecordReader(false, 4096) {
    def schema: StructType = sparkSchema
  }

  /** Snapshot-isolated data reader: only files under committed snapshot
    * directories are visible. Returns empty when the table has committed
    * snapshots but nothing was ever written under data/<sub> (metadata-only
    * commits, or a first data commit to a different sub). */
  def readData(sub: String): DataFrame =
    readDataVisible(sub, committedSnapshots())

  /** Time-travel data reader: the table exactly as it stood when `snap`
    * published — "reproduce yesterday's training set" is
    * `readDataAsOf(sub, pinnedSnapshotId)`. Same partition-pruned plan shape
    * as [[readData]]; only the visible-id set differs, so the cost of an
    * as-of read is the cost of reading that snapshot's prefix, never a log
    * replay. */
  def readDataAsOf(sub: String, snap: Long): DataFrame =
    readDataVisible(sub, committedSnapshotsAsOf(snap))

  private def readDataVisible(sub: String, visible: Seq[Long]): DataFrame =
    if (visible.isEmpty || !Files.exists(Paths.get(root, "data", sub)))
      spark.emptyDataFrame
    // the `isin` list plans as a static `snapshot_id INSET` partition
    // filter at any length, so the scan never opens a torn commit's files
    // (the list grows with the snapshot count; `compact` bounds it). A
    // semi-join against a local id list would not prune: it plans only
    // `isnotnull(snapshot_id)`, and dynamic partition pruning needs a
    // selective filter on the build side, which a local list has none of.
    else spark.read.parquet(s"$root/data/$sub")
      .where(col("snapshot_id").isin(visible: _*))
      .drop("snapshot_id")

  /** Committed manifest rows visible at the current snapshot, as a local
    * frame read on the driver ([[readManifests]]). */
  def manifests(): DataFrame =
    manifestsVisible(committedSnapshots())

  /** Manifest rows as of snapshot `snap` (the resume/skip-existing state a
    * worker would have observed right after that commit). */
  def manifestsAsOf(snap: Long): DataFrame =
    manifestsVisible(committedSnapshotsAsOf(snap))

  private def manifestsVisible(visible: Seq[Long]): DataFrame =
    if (visible.isEmpty) spark.emptyDataFrame
    else readManifests(visible)

  /** Resume filter: drop work units whose part_key is already committed
    * (anti-join against the manifest — satproc skip-existing semantics).
    * The manifest side is not deduplicated: duplicate build rows cannot
    * change an anti-join, and a `distinct` would cost a shuffle. */
  def pendingWork(work: DataFrame, keyCol: String): DataFrame =
    if (committedSnapshots().isEmpty) work
    else work.join(manifests().select(col("part_key").as(keyCol)),
      Seq(keyCol), "left_anti")

  /** The pending-work set as a worker would have computed it right after
    * snapshot `snap` published — replays a historical resume decision for
    * audit/lineage ("which tiles were still open when job J started?"). */
  def pendingWorkAsOf(work: DataFrame, keyCol: String, snap: Long): DataFrame =
    work.join(manifestsAsOf(snap).select(col("part_key").as(keyCol)),
      Seq(keyCol), "left_anti")

  /** Maintenance: snapshot expiry + manifest compaction (single-writer op,
    * like Iceberg's own maintenance actions). A long-lived append-only
    * table otherwise accumulates one data directory, one manifest file and
    * one VERSION line per commit — after N commits every read plans over N
    * snapshot ids and N parquet fragments. Compaction rewrites all
    * committed data (per `sub`) and all committed manifest rows under ONE
    * fresh snapshot id, publishes VERSION = [that id] atomically, then
    * physically drops the superseded data directories and manifest files —
    * so read planning returns to O(1) while [[readData]]/[[manifests]]/
    * [[pendingWork]] results are bit-identical (ResumeSpec pins a
    * 200-commit table reading identically after compaction).
    *
    * Crash safety mirrors [[commit]]: everything is written under the new
    * id BEFORE the atomic VERSION move (a crash leaves the new files
    * invisible and the old table intact); physical deletion runs only
    * AFTER the move, and a crash mid-cleanup leaves only invisible
    * leftovers that the next compaction removes. */
  def compact(): Long = {
    val old = committedSnapshots()
    require(old.nonEmpty, "nothing to compact: no committed snapshots")
    val snap = allocateSnapshotId()
    // every data sub-table is rewritten (discovered from the layout, so a
    // caller cannot accidentally expire a sub it forgot to list)
    val dataRootDir = Paths.get(root, "data")
    val subs: Seq[String] =
      if (Files.exists(dataRootDir))
        withStream(Files.list(dataRootDir))(_.iterator().asScala
          .filter(Files.isDirectory(_)).map(_.getFileName.toString).toList)
      else Seq.empty
    subs.foreach { sub =>
      val df = readData(sub)
      if (df.schema.nonEmpty)
        df.write.mode(SaveMode.Append).parquet(s"$root/data/$sub/snapshot_id=$snap")
    }
    // every manifest file listed now is superseded by the one file the
    // driver writes next (compaction is a single-writer op)
    val mfDir = Paths.get(metaDir, "manifests")
    val supersededManifests = withStream(Files.list(mfDir))(_.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList)
    val mfRows = writeLocal(manifests().drop("snapshot_id").withColumn("snapshot_id", lit(snap)),
      mfDir.toString)
    writeSnapshot(snap, "compact", mfRows)
    // commit point: only the compaction snapshot survives
    val tmp = Paths.get(root, s".VERSION.$snap.tmp")
    Files.write(tmp, snap.toString.getBytes, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, versionFile, ATOMIC_MOVE, REPLACE_EXISTING)
    // physical expiry: superseded data dirs, then the superseded manifest
    // files with their checksums (the compacted file is already in place,
    // so the directory stays readable at every instant)
    if (Files.exists(dataRootDir)) {
      val superseded = withStream(Files.walk(dataRootDir, 2))(_.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("snapshot_id=") &&
          p.getFileName.toString != s"snapshot_id=$snap").toList)
      superseded.foreach(deleteTree)
    }
    supersededManifests.foreach { p =>
      Files.deleteIfExists(p)
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }
    snap
  }

  /** Append per-partition metrics rows (job_id, stage, partition, rows_in,
    * rows_out, wall_ms, checksum) — the north rule's lineage/metrics tables. */
  def appendMetrics(metrics: DataFrame): Unit = writeLocal(metrics, s"$metaDir/metrics")

  def appendLineage(lineage: DataFrame): Unit = writeLocal(lineage, s"$metaDir/lineage")

  def metrics(): DataFrame = spark.read.parquet(s"$metaDir/metrics")
}
