package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Structured Streaming ingestion path (SURVEY.md §2.9): the same events
  * table consumed as a file-source stream → event-time tumbling-window
  * aggregation → in-memory sink. Batch parity makes it oracle-checkable:
  * complete-mode windowed counts equal the batch groupBy over the same
  * files. The checkpointed variant (checkpointLocation + kill/resume) is
  * exercised in StreamingSpec. */
object Streaming {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Scope the streaming state-store provider around `f` and restore it.
    * "hdfs" (the Spark default, and the stateful queries' default) keeps
    * all state as JVM objects in executor heap — O(state) memory, the
    * scale ceiling for a 100-TB dedup whose key space outgrows the heap.
    * "rocksdb" swaps in Spark's built-in RocksDBStateStoreProvider: state
    * lives in native memory + local SSD with changelog/snapshot files in
    * the checkpoint dir, so state volume is bounded by disk, not heap; a
    * caller whose state outgrows the heap passes it. At fixture state
    * volumes it costs more per micro-batch (`streaming_join` at sf0.1, 4
    * cores: min wall about 11 s against about 5 s with hdfs). The provider
    * is pinned by the FIRST run against a checkpoint (stored in the state
    * metadata) — restarts must keep the same provider, which is why it
    * scopes the whole query run. */
  def withStateStoreProvider[A](spark: SparkSession, provider: String)(f: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val cls = provider match {
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case "hdfs" | "default" =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case other => other // a fully-qualified custom provider class
    }
    withConf(spark, key -> cls)(f)
  }

  /** Run `f` with the given session settings, then restore each one's
    * previous value (or unset it). */
  private def withConf[A](spark: SparkSession, settings: (String, String)*)(f: => A): A = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { settings.foreach { case (k, v) => spark.conf.set(k, v) }; f }
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Every stateful operator's shuffle partition is a state-store instance
    * paying per-batch snapshot/commit files, so the stateful queries below
    * size their shuffle to the STATE volume, not the core count: 4 store
    * instances, the fixture-scale optimum of an A/B at 4, 8 and 16. */
  private val statefulWidth: (String, String) = "spark.sql.shuffle.partitions" -> "4"

  /** Start `w` as an AvailableNow query with adaptive execution off: Spark
    * runs stateful streams without it anyway (the one stateless stream,
    * [[crossCorpusStream]], is planned statically), and its analyzer warns
    * once per stream started while the session has it on. The query runs
    * on a session clone taken at start, so the setting is restored right
    * after. */
  private def startAvailableNow(spark: SparkSession, w: DataStreamWriter[Row]): StreamingQuery =
    withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      w.trigger(Trigger.AvailableNow()).start()
    }

  /** Drain a streaming DataFrame into a memory sink (AvailableNow) and
    * return the materialized table — the batch-parity harness every
    * oracle-checked streaming query uses. The run owns its checkpoint: a
    * fresh directory under `java.io.tmpdir`, deleted once the query has
    * terminated (the memory sink keeps the rows), instead of the temporary
    * one Spark would otherwise create and warn about. */
  def runToMemory(df: DataFrame, mode: String = "complete"): DataFrame = {
    val name = s"graft_stream_${counter.incrementAndGet()}"
    val checkpoint = java.nio.file.Files.createTempDirectory(name)
    try startAvailableNow(df.sparkSession, df.writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .option("checkpointLocation", checkpoint.toString)).awaitTermination()
    finally org.apache.commons.io.FileUtils.deleteQuietly(checkpoint.toFile)
    df.sparkSession.table(name)
  }

  /** File-source stream over one parquet table in `sfDir` (file-source
    * streams take a directory; the glob scopes it to the one table). */
  def tableStream(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/$table.parquet").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(sfDir)
  }

  /** Tumbling 1-hour event-time windows per event_type, complete mode.
    * The stateful aggregation runs at a state-sized shuffle width (the
    * [[streamStreamJoin]]/[[sessionWindows]] lesson, applied here last):
    * every shuffle partition of a stateful operator is a state-store
    * instance paying per-batch snapshot/commit files, and complete-mode
    * window-count state is (windows × types)-sized — thousands of rows —
    * so 32 store instances are pure fixed cost. */
  def eventCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = tableStream(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        floor(sum("value") * lit(1000000.0)).cast("long").as("sum_value_fp"))
      .select(col("win.start").as("hour"), col("event_type"), col("n"), col("sum_value_fp"))
    withConf(spark, statefulWidth)(runToMemory(agg))
  }

  /** Watermarked append-mode variant with checkpointing — used by the
    * resume test. Late rows beyond the watermark are dropped by the state
    * operator; [[lateDrops]] surfaces the per-run count for the quarantine
    * metrics row (north rule: late data accounted, not silently lost). */
  def eventCountsCheckpointed(spark: SparkSession, sfDir: String,
                              checkpoint: String, sinkDir: String,
                              glob: String = "events.parquet",
                              maxFilesPerTrigger: Option[Int] = None): Long = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    var rs = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(m => rs = rs.option("maxFilesPerTrigger", m.toString))
    val stream = rs.parquet(sfDir)
    val agg = stream
      // the parquet stores TIMESTAMP_NTZ; event-time watermarks need LTZ
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("hour"), col("event_type"), col("n"))
    // state-sized stateful shuffle (see eventCounts). The partition count
    // is pinned by the FIRST run against a checkpoint; restarts under the
    // same checkpoint reuse the stored value, so resume stays coherent.
    val q = withConf(spark, statefulWidth) {
      startAvailableNow(spark, agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .format("parquet").option("path", sinkDir))
    }
    q.awaitTermination()
    // sum numRowsDroppedByWatermark over the run's progress updates
    q.recentProgress.flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark)).sum
  }

  /** STREAM-STREAM interval join (the remaining §2.9 primitive): two
    * watermarked file streams over the same events table, inner-joined per
    * user on "b strictly follows a within 1 hour" — the funnel/sessionize
    * shape. Both sides carry 2-hour watermarks and the join condition
    * time-bounds b_ts relative to a_ts, so Spark can expire join state;
    * with AvailableNow over a static file the joined pair set is complete
    * and equals the batch interval self-join, which is what the oracle
    * checks (pair counts per (a_type, b_type)). The join output streams
    * append-mode into the memory sink; the final count aggregation runs in
    * BATCH over the sink (stream-stream join + streaming agg in one query
    * would need another watermark hop and buys nothing for the oracle). */
  def streamStreamJoin(spark: SparkSession, sfDir: String,
                       stateStore: String = "hdfs"): DataFrame = {
    def side(prefix: String): DataFrame =
      tableStream(spark, sfDir, "events")
        .withColumn("ts", col("ts").cast("timestamp")) // NTZ → LTZ for watermarks
        .select(col("event_id").as(s"${prefix}_id"), col("ts").as(s"${prefix}_ts"),
          col("user_id"), col("event_type").as(s"${prefix}_type"))
        .withWatermark(s"${prefix}_ts", "2 hours")
    val a = side("a")
    val b = side("b").withColumnRenamed("user_id", "b_user")
    val joined = a.join(b,
      col("user_id") === col("b_user") &&
        col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"))
    // every shuffle partition of a stateful operator is a state-store
    // instance paying per-batch snapshot/commit files — for a join whose
    // state is tiny that fixed cost dominates (measured ~15 s at 32
    // partitions vs ~4 s at 4, input-size-independent). Size the stateful
    // shuffle to the STATE, not the cluster. Scoped + restored around the
    // one start.
    val pairs = withConf(spark, statefulWidth) {
      withStateStoreProvider(spark, stateStore) {
        runToMemory(joined.select("a_id", "b_id", "a_type", "b_type"), mode = "append")
      }
    }
    pairs.groupBy("a_type", "b_type").agg(count(lit(1)).as("n_pairs"))
  }

  /** Streaming exact dedup with CUSTOM state (flatMapGroupsWithState —
    * the §2.9 stateful-operator surface): content-hash keyed; the first
    * micro-batch that sees a hash emits (hash, min doc_id in that batch)
    * and pins the state; later arrivals of the same content are dropped.
    * On a single-batch run (AvailableNow over one file) the output equals
    * batch [[Dedup.exact]]'s keeper set exactly; across batches the
    * keeper is first-win (streaming append cannot retract), which is the
    * standard streaming-dedup contract. State is checkpointed: a restart
    * emits nothing new. */
  def dedupStream(spark: SparkSession, sfDir: String,
                  checkpoint: String, sinkDir: String,
                  glob: String = "documents.parquet",
                  maxFilesPerTrigger: Option[Int] = None,
                  stateStore: String = "hdfs"): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val schema = spark.read.option("pathGlobFilter", glob)
      .parquet(sfDir).schema
    var rs = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(m => rs = rs.option("maxFilesPerTrigger", m.toString))
    val stream = rs.parquet(sfDir)
    val out = stream.select(md5(col("text")).as("text_hash"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (hash: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val keeper = rows.map(_._2).min
            state.update(keeper)
            Iterator.single((hash, keeper))
          }
      }
      .toDF("text_hash", "keeper_id")
    // state-sized stateful shuffle (see eventCounts): dedup state is
    // hash-keyed rows, and a store instance per session core is pure
    // per-batch snapshot cost at fixture state volumes. Pinned by the
    // first run against a checkpoint, so resume stays coherent.
    val q = withConf(spark, statefulWidth) {
      withStateStoreProvider(spark, stateStore) {
        startAvailableNow(spark, out.writeStream.outputMode("append")
          .option("checkpointLocation", checkpoint)
          .format("parquet").option("path", sinkDir))
      }
    }
    q.awaitTermination()
  }

  /** Streaming sessionization with Spark's NATIVE session windows:
    * `session_window(ts, gap)` merges a user's events into dynamic
    * [first_ts, last_ts + gap) windows inside the stateful aggregation —
    * the state store holds open sessions per user and closes them when
    * event time passes the gap. Session windows demand
    * append mode WITH a watermark, so sessions still open at the final
    * watermark (max event time − delay) are withheld — the same
    * window-finalization semantics the `streaming_watermarked` oracle
    * models (emit iff session end ≤ watermark). Boundary semantics: an
    * event exactly at session end (gap ≥, not >) starts a NEW session —
    * Spark's rule, mirrored in the oracle. The NTZ fixture column is cast
    * to TIMESTAMP for the watermark (event time must be LTZ — the same
    * proven cast as eventCountsCheckpointed; the round-trip is
    * tz-neutral). */
  def sessionWindows(spark: SparkSession, sfDir: String,
                     gap: String = "30 minutes"): DataFrame = {
    val agg = tableStream(spark, sfDir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("sess_start"), col("n_events"))
    // state-sized stateful shuffle, the streamStreamJoin lesson: each
    // partition is a state-store instance paying per-batch snapshot files,
    // and open-session state is per-user-tiny here
    withConf(spark, statefulWidth)(runToMemory(agg, mode = "append"))
  }

  /** Streaming cross-corpus dedup — the live-crawl counterpart of
    * [[Dedup.crossCorpus]]: the documents table consumed as a file stream,
    * each micro-batch anti-joined against a STATIC prior-corpus
    * fingerprint table. Stream-static left_anti is STATELESS — no
    * watermark, no state store, nothing grows across batches — because
    * the prior side is fixed for the run; Spark plans it as a per-batch
    * broadcast (small prior) or shuffle (large prior) hash join, so at
    * scale the per-batch cost is the batch operator's, amortized over the
    * stream. Only (doc_id, 60-bit fp) rows ever cross the join. Output:
    * surviving new docs, append mode — identical row set to the batch
    * operator, which is what the oracle checks. */
  def crossCorpusStream(spark: SparkSession, sfDir: String,
                        prior: DataFrame): DataFrame = {
    val pf = prior
      .select(TextOps.fingerprintCol(col("text")).as("fp")).distinct()
    val stream = tableStream(spark, sfDir, "documents")
      .select(col("doc_id"), TextOps.fingerprintCol(col("text")).as("fp"))
    runToMemory(stream.join(pf, Seq("fp"), "left_anti")
      .select("doc_id", "fp"), mode = "append")
  }
}
