package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

/** Host-side measurements that do not involve the engine. */
object Host {

  /** Wall seconds of a fixed integer burn (xorshift64) on one thread, and
    * of the same burn on `threads` threads at once. On an idle host with
    * `threads` free cores the two read alike; a congested window shows as
    * the second reading high, or as readings that differ between the start
    * and the end of an invocation. */
  def calibrate(threads: Int, iterations: Long = 100L * 1000 * 1000): Map[String, Double] = {
    def burn(): Long = {
      var x = 0x9e3779b97f4a7c15L
      var i = 0L
      while (i < iterations) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    def timed(n: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to n).map(_ => new Thread(() => { sink.addAndGet(burn()); () }))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    timed(1) // JIT warm-up
    Map("single_thread_s" -> timed(1), "all_threads_s" -> timed(threads))
  }
  private val sink = new AtomicLong()

  /** Heap occupancy right after a full collection: the data still live. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def jdk: String = s"${sys.props("java.vm.name")} ${sys.props("java.version")}"
  def heapMaxMb: Double = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
  def graftEnv: Map[String, String] = sys.env.filter(_._1.startsWith("SPARK_GRAFT_"))
}

/** Order statistics as the benchmark reports them. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of the usual percentiles with at least ten samples beyond
    * it; None when there are fewer than twenty samples. */
  def tailPercentile(n: Int): Option[Int] =
    Seq(99, 95, 90, 75, 50).find(p => n * (100 - p) / 100.0 >= 10.0)
}

/** A minimal JSON writer for the artifact (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
