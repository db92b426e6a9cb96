package graft

import org.apache.spark.sql.SparkSession

/** Every `SPARK_GRAFT_*` setting the engine reads, parsed and validated in
  * one place. Built from the process environment by [[Config.fromEnv]], or
  * from a plain map (specs). Numeric settings must be positive integers; a
  * bad value fails construction with a message naming the variable and
  * quoting the value. */
final class Config(env: Map[String, String]) {
  /** `SPARK_GRAFT_CPUS`: local-mode cores and shuffle partitions (default:
    * the host's core count). */
  val cpus: Int = positiveInt("SPARK_GRAFT_CPUS")
    .getOrElse(Runtime.getRuntime.availableProcessors)
  /** `SPARK_GRAFT_PAGES`: flagship page count (default: derived from the
    * sf dir, see [[Bench.flagshipPageCount]]). */
  val pages: Option[Long] =
    parsed("SPARK_GRAFT_PAGES")(_.toLongOption.filter(_ > 0))
  /** `SPARK_GRAFT_QUERY_RUNS`: Bench's catalog passes (min-of-N). */
  val queryRuns: Int = positiveInt("SPARK_GRAFT_QUERY_RUNS").getOrElse(2)
  /** `SPARK_GRAFT_SF_DIR`: the fixture directory Bench and Measure read. */
  val sfDir: String = env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  /** `SPARK_GRAFT_ONLY=q1,q2`: Verify dumps only the named queries and
    * their oracles (names trimmed, empty names dropped). */
  val only: Option[Set[String]] =
    env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
  /** `SPARK_GRAFT_MASTER`: the CLI's master URL (default `local[cpus]`). */
  val master: Option[String] = env.get("SPARK_GRAFT_MASTER")

  private def positiveInt(name: String): Option[Int] =
    parsed(name)(_.toIntOption.filter(_ > 0))

  private def parsed[A](name: String)(parse: String => Option[A]): Option[A] =
    env.get(name).map { v =>
      parse(v.trim).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$v'"))
    }
}

object Config {
  /** The process environment's settings, validated on first use. */
  lazy val fromEnv: Config = new Config(sys.env)

  /** The one local-session builder: `local[cpus]` (or `master`), shuffle
    * partitions = cpus, UTC, UI off, log level WARN. `extra` adds a
    * caller's own settings on top. */
  def session(cpus: Int, extra: Map[String, String] = Map.empty,
              master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
