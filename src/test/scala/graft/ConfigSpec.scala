package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_*` parser, driven with plain maps instead of the process
  * environment: defaults, accepted values, and numeric settings rejected
  * with a message naming the variable and quoting the value. */
class ConfigSpec extends AnyFunSuite {
  test("defaults: host cores, 2 query runs") {
    val c = new Config(Map.empty)
    assert(c.cpus == Runtime.getRuntime.availableProcessors)
    assert(c.pages.isEmpty && c.queryRuns == 2)
    assert(c.only.isEmpty && c.master.isEmpty)
  }

  test("set values are parsed") {
    val c = new Config(Map("SPARK_GRAFT_CPUS" -> "4", "SPARK_GRAFT_PAGES" -> "64000000",
      "SPARK_GRAFT_QUERY_RUNS" -> " 3 ", "SPARK_GRAFT_ONLY" -> "q1_agg,knn",
      "SPARK_GRAFT_MASTER" -> "local[2]", "SPARK_GRAFT_SF_DIR" -> "/data/sf1"))
    assert(c.cpus == 4 && c.pages.contains(64000000L) && c.queryRuns == 3)
    assert(c.only.contains(Set("q1_agg", "knn")))
    assert(c.master.contains("local[2]") && c.sfDir == "/data/sf1")
    // query names are trimmed and empty names dropped
    assert(new Config(Map("SPARK_GRAFT_ONLY" -> " polygon_fill, pip_aoi ,,pip_cell_join ")).only
      .contains(Set("polygon_fill", "pip_aoi", "pip_cell_join")))
  }

  test("numeric settings: zero, negative or non-numeric values are rejected, naming the variable") {
    val bad = Seq("0", "-1", "four", "", "2.5", "99999999999")
    for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_QUERY_RUNS", "SPARK_GRAFT_PAGES");
         v <- bad if !(name == "SPARK_GRAFT_PAGES" && v == "99999999999")) {
      val e = intercept[IllegalArgumentException](new Config(Map(name -> v)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$v'"), s"$name=$v")
    }
    assert(new Config(Map("SPARK_GRAFT_PAGES" -> "99999999999")).pages.contains(99999999999L))
  }
}
