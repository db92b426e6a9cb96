package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** RocksDB state-store provider for the stateful streaming family.
  *
  * The HDFS-backed default keeps every key's state as JVM objects in
  * executor heap — fine for the sandbox fixtures, a hard scale ceiling for
  * a 100-TB dedup whose key space outgrows memory. Spark ships a RocksDB
  * provider (native memory + local disk, snapshots in the checkpoint dir);
  * [[Streaming.withStateStoreProvider]] makes it a per-run choice (the
  * stateful operators' `stateStore = "rocksdb"` argument). These tests
  * pin that
  *   (1) dedup state is carried ACROSS micro-batches under RocksDB on a
  *       corpus ~40× the driver fixture's key count,
  *   (2) a restart against a RocksDB checkpoint stays exactly-once, and
  *   (3) the stream-stream interval join returns identical pairs under
  *       both providers.
  */
class StateStoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  /** Write `df` as ONE parquet file at `dest` with the given mtime — the
    * file stream source orders input by modification time, so distinct
    * mtimes make micro-batch order deterministic. */
  private def writeOneFile(df: org.apache.spark.sql.DataFrame, dest: Path,
                           mtimeSec: Long): Unit = {
    val tmp = Files.createTempDirectory("graft-onefile")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator.asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.move(part, dest)
    Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeSec * 1000))
  }

  test("rocksdb carries dedup state across micro-batches (20k keys, 3 batches); restart emits nothing") {
    val tmp = Files.createTempDirectory("graft-rocksdb").toString
    val in = Files.createDirectories(Paths.get(tmp, "in"))
    // 20,000 distinct texts, REPEATED in each of 3 files under ever-higher
    // doc_ids. maxFilesPerTrigger=1 forces one micro-batch per file: a
    // batch-local dedup would re-emit all 20k hashes every batch (60k rows
    // total) — only state carried between batches yields 20k keepers, all
    // from the first file.
    val base = System.currentTimeMillis() / 1000 - 100
    // rows are built inside the tasks (a 20k-row local relation would
    // ship ~1 MB with every task)
    (0 until 3).foreach { part =>
      val docs = spark.range(20000).select(
        (col("id") + part * 100000L).as("doc_id"),
        concat(lit("doc text "), col("id").cast("string")).as("text"))
      writeOneFile(docs, in.resolve(s"d$part.parquet"), base + part * 10)
    }
    Streaming.dedupStream(spark, in.toString, s"$tmp/ckpt", s"$tmp/out",
      glob = "*.parquet", maxFilesPerTrigger = Some(1), stateStore = "rocksdb")
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 20000L,
      "cross-batch duplicates must be dropped by carried state")
    assert(out.agg(org.apache.spark.sql.functions.max("keeper_id")).head().getLong(0) < 100000L,
      "every keeper must come from the first (earliest-mtime) batch")
    // the RocksDB provider actually ran: its checkpointed state is uploaded
    // as versioned .zip snapshots (the HDFS provider writes .delta files)
    val stateFiles = Files.walk(Paths.get(tmp, "ckpt", "state")).iterator.asScala
      .map(_.getFileName.toString).toList
    assert(stateFiles.exists(_.endsWith(".zip")),
      s"expected RocksDB snapshot files in the checkpoint, saw: ${stateFiles.take(20)}")
    // restart on the same checkpoint: all state present, nothing new emitted
    Streaming.dedupStream(spark, in.toString, s"$tmp/ckpt", s"$tmp/out",
      glob = "*.parquet", maxFilesPerTrigger = Some(1), stateStore = "rocksdb")
    assert(spark.read.parquet(s"$tmp/out").count() == 20000L,
      "rocksdb checkpointed restart must be exactly-once")
  }

  test("stream-stream interval join: identical pairs under rocksdb and hdfs providers") {
    val sfDir = "/root/testdata/sf0.001"
    def rows(provider: String): Set[(String, String, Long)] =
      Streaming.streamStreamJoin(spark, sfDir, stateStore = provider)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val hdfs = rows("hdfs")
    val rocks = rows("rocksdb")
    assert(hdfs.nonEmpty, "fixture must produce join pairs")
    assert(rocks == hdfs, "join results must not depend on the state-store provider")
  }
}
