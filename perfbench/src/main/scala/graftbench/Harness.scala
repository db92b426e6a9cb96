package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark process: one JVM, one workload, closed loop with one
  * operation in flight at local[cores].
  *
  *   --workload chips_2m|chips_commit --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --out FILE [--source-sha HEX] [--git-commit HEX]
  *
  * Untraced (--trace 0) it reports the end-to-end metrics; traced
  * (--trace 1) it alternates untraced and traced ops and reports the
  * per-layer metrics, the layers' self times and the tracing overhead, and
  * writes the spans next to `--out`. Every op's output is checked; the
  * artifact written to `--out` says whether all were correct. */
object Harness {
  private val MinOps = 2

  final case class OpRecord(i: Int, traced: Boolean, wallS: Double, threw: Boolean,
                            problems: Seq[String], tilesChips: Long, heapMb: Double,
                            layers: Map[String, Double]) {
    def ok: Boolean = problems.isEmpty
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cores = o("cores").toInt
    val work = o("work")
    val out = o("out")
    require(Workload.names.contains(workload), s"unknown workload $workload")

    val calStart = Host.calibrate(cores)
    val expected = Expected.count(Workload.firstPage(workload, seed), Workload.pages(workload))

    val setupStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wl = Workload(workload, spark, work, seed, expected)
    val tr = new Tracer(spark)
    val ledger = new Ledger(spark)
    val records = mutable.ArrayBuffer.empty[OpRecord]
    var nextOp = 0

    def runOp(traced: Boolean, heapAfter: Boolean = false): OpRecord = {
      val i = nextOp
      nextOp += 1
      if (traced) ledger.attach()
      tr.beginOp(i)
      val (outcome, threw) =
        try (wl.op(i, tr), false)
        catch { case e: Throwable => (Outcome(0L, 0L, Seq(s"op threw $e")), true) }
      val opSpans = tr.endOp()
      val heapMb = if (heapAfter) Host.liveHeapMb() else 0.0
      val cachedMb = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          ledger.drain()
          val derived = ledger.derivedSpans(i, opSpans, () => tr.nextId())
          tr.spans ++= derived
          val phaseS = opSpans.tail.map(s => s.name -> (s.endMs - s.startMs) / 1000.0).toMap
          ledger.detach()
          ledger.opMetrics(i, opSpans, cores) ++
            Ledger.selfTimeByLayer(opSpans ++ derived).map { case (l, ms) => s"trace.self.${l}_s" -> ms / 1000.0 } ++
            Map(
              "operators.build_s" -> phaseS.getOrElse("operators.build", 0.0),
              "exec.action_s" -> phaseS.getOrElse("exec.action", 0.0),
              "sources.resume_s" -> phaseS.getOrElse("sources.resume", 0.0),
              "operators.cached_mb_after" -> cachedMb)
        }
      val checked =
        try wl.after(i, outcome)
        catch { case e: Throwable => outcome.copy(problems = outcome.problems :+ s"check failed: $e") }
      spark.catalog.clearCache()
      val wallS = (opSpans.head.endMs - opSpans.head.startMs) / 1000.0
      val rec = OpRecord(i, traced, wallS, threw, checked.problems,
        checked.tiles + checked.chips, heapMb, layers ++ checked.extra)
      if (!rec.ok) System.err.println(s"[graftbench] op $i: ${rec.problems.mkString("; ")}")
      records += rec
      rec
    }

    // ---- set-up: session, table, warm-up until walls settle -------------
    // Warm-up runs the workload's minimum number of ops (where its walls
    // stop sliding as the JIT finishes), then more until the mean of the
    // last two walls is no more than 5% below the mean of the two before,
    // at most two more. It also fills JVM-wide engine memos and the
    // codegen cache, so their cost lands here.
    wl.materialize()
    val warm = mutable.ArrayBuffer.empty[Double]
    def settled = warm.size >= wl.minWarmup && {
      val n = warm.size
      warm(n - 1) + warm(n - 2) >= 0.95 * (warm(n - 3) + warm(n - 4))
    }
    while (!settled && warm.size < wl.minWarmup + 2) warm += runOp(traced = false).wallS
    val setupS = (System.nanoTime() - setupStart) / 1e9
    val warmupRecords = records.toList
    records.clear()

    // ---- timed loop ------------------------------------------------------
    val kernels = if (trace) Kernels.run(wl.firstPage) else Map.empty[String, Double]
    // each timed op ends with a full GC (outside its wall) that measures the
    // heap the op left live; the peak of those is peak_heap_mb
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    while (records.size < (if (trace) 2 * MinOps else MinOps) || elapsed < seconds)
      runOp(traced = trace && records.size % 2 == 1, heapAfter = true)

    val geotag = if (!trace) Nil else {
      val problems = mutable.ArrayBuffer.empty[String]
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        problems ++= wl.geotagPass()
        (System.nanoTime() - t0) / 1e9
      }
      problems.toList.distinct.foreach(p => System.err.println(s"[graftbench] $p"))
      Seq(("functions.geotag_s", Stats.median(ts), problems.isEmpty))
    }
    val calEnd = Host.calibrate(cores)

    // ---- results ---------------------------------------------------------
    val measured = records.filter(!_.traced).toSeq
    val allRecords = warmupRecords ++ records
    val correct = allRecords.forall(_.ok) && geotag.forall(_._3)
    val attempted = records.size
    val failed = records.count(_.threw)
    val good = measured.filter(_.ok)
    val walls = good.map(_.wallS)
    val p50 = Stats.median(walls)
    val tailPct = Stats.tailPercentile(walls.size)
    val tail = tailPct.map(p => Stats.quantile(walls, p / 100.0)).getOrElse(walls.max)
    val tilesChips = good.headOption.map(_.tilesChips).getOrElse(0L)

    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("wall_p50_s", p50, "s"),
      ("wall_tail_s", tail, "s"),
      ("ops_per_s", good.size / measured.map(_.wallS).sum, "1/s"),
      ("tiles_chips_per_s", tilesChips / p50, "1/s"),
      ("peak_heap_mb", measured.map(_.heapMb).max, "MB"))

    val traced = records.filter(_.traced).toSeq
    val perLayer: Seq[(String, Double, String)] = if (!trace) Nil else {
      val layerMedians = PerOpLayerMetrics.map(n =>
        n -> Stats.median(traced.map(_.layers.getOrElse(n, 0.0))))
      val untracedP50 = Stats.median(measured.map(_.wallS))
      val tracedP50 = Stats.median(traced.map(_.wallS))
      (kernels.toSeq ++ layerMedians ++ geotag.map(g => g._1 -> g._2) ++ Seq(
        "trace.untraced_wall_s" -> untracedP50,
        "trace.traced_wall_s" -> tracedP50,
        "trace.overhead_s" -> (tracedP50 - untracedP50)))
        .map { case (n, v) => (n, v, Harness.unitOf(n)) }
    }

    val sc = spark.sparkContext
    // per-invocation paths are echoed relative to the work directory, so
    // the block compares equal across runs and checkouts
    def echo(v: String) = v.replace(work, "<work>")
    val config = Map(
      "spark" -> Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.shuffle.sort.bypassMergeThreshold", "spark.local.dir",
        "spark.io.compression.codec", "spark.sql.parquet.compression.codec",
        "spark.sql.files.maxPartitionBytes")
        .map(k => k -> echo(sc.getConf.getOption(k).orElse(spark.conf.getOption(k)).getOrElse("(default)"))).toMap,
      "spark_version" -> spark.version,
      "env" -> Host.graftEnv,
      "nproc" -> cores,
      "heap_max_mb" -> Host.heapMaxMb,
      "jdk" -> Host.jdk,
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.toSeq.map(a => echo(a.toString)).filterNot(_.startsWith("--add-opens")),
      "source_sha256" -> o.getOrElse("source-sha", "unknown"),
      "git_commit" -> o.getOrElse("git-commit", "unknown"),
      "seed" -> seed,
      "pages" -> wl.nPages,
      "first_page" -> wl.firstPage)
    val congested = calEnd("single_thread_s") > 1.2 * calStart("single_thread_s") ||
      calStart("single_thread_s") > 1.2 * calEnd("single_thread_s") ||
      Seq(calStart, calEnd).exists(c => c("all_threads_s") > 1.3 * c("single_thread_s"))
    def metricMap(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    val artifact = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricMap(if (trace) perLayer else endToEnd),
      "end_to_end" -> metricMap(endToEnd),
      "samples" -> Map("ops" -> walls.size, "traced_ops" -> traced.size, "tail_percentile" -> tailPct.map(_.toString).getOrElse("max"),
        "walls_s" -> measured.map(_.wallS), "warmup_walls_s" -> warm.toSeq),
      "expected" -> Map("tile_assignments" -> expected.tiles, "chips" -> expected.chips,
        "chip_payload_bytes" -> expected.chipPayloadBytes),
      "problems" -> allRecords.flatMap(r => r.problems.map(p => s"op ${r.i}: $p")),
      "calibration" -> Map("start" -> calStart, "end" -> calEnd, "congested" -> congested),
      "config" -> config)
    Files.writeString(Paths.get(out), Json(artifact))
    if (trace) {
      val spans = tr.spans.sortBy(s => (s.op, s.startMs)).map(s => Map("id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))
      Files.writeString(Paths.get(out).resolveSibling("spans.json"), Json(spans))
    }
    spark.stop()
  }

  /** Per-layer figures taken per traced op and reported as their median.
    * A workload without the layer step (no resume pass on chips_2m, no
    * terminal action on chips_commit) reports 0. */
  val PerOpLayerMetrics: Seq[String] = Seq(
    "functions.non_codegen_ops", "functions.codegen_fallbacks",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "operators.build_s", "operators.build_jobs", "operators.cached_mb_after",
    "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.task_wait_s",
    "exec.core_util", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.spill_mb", "exec.task_skew", "exec.failed_tasks",
    "sources.scan_mb", "sources.scan_rows", "sources.write_mb",
    "sources.files_written", "sources.resume_s", "sources.snapshots_per_op",
    "sources.table_bytes_per_chip_byte",
    "trace.self.op_s", "trace.self.operators_s", "trace.self.plan_s",
    "trace.self.exec_s", "trace.self.sources_s")

  def unitOf(metric: String): String = metric match {
    case m if m.endsWith("_ns") => "ns"
    case m if m.endsWith("_us") => "us"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") || m.contains("_mb_") => "MB"
    case m if m.endsWith("core_util") || m.endsWith("task_skew") ||
              m.endsWith("per_chip_byte") => "ratio"
    case _ => "count"
  }
}
