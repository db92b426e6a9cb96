package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ChipPipeline.ChipRow

/** The one distributed prefix sum ([[TextOps.prefixSum]]) through both of
  * its callers, footprint ids and sequence-packing bins, against an
  * in-memory sequential enumeration. Each caller runs on inputs of 1, 4 and
  * 13 partitions, and each result is read plainly and through a downstream
  * `coalesce(1)`, which runs the offset scan of every range partition in
  * one task. */
class PrefixSumSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  /** The sf0.001 fixtures, next to the `SPARK_GRAFT_SF_DIR` default. */
  private val sf = java.nio.file.Paths.get(graft.Config.fromEnv.sfDir)
    .resolveSibling("sf0.001").toString

  /** `run` on `input` in every shape, collected inside an owning scope. The
    * range exchange keeps its 4 partitions (no adaptive coalescing), so the
    * `coalesce(1)` shapes really merge several offset ranges. */
  private def shapes[A](input: Dataset[A])(run: Dataset[A] => DataFrame): Seq[(String, Array[Row])] = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try for (p <- Seq(1, 4, 13); merged <- Seq(false, true)) yield Owned.scope {
      val out = run(input.repartition(p))
      assert(out.rdd.getNumPartitions > 1, s"$p partitions: the scan must span several partitions")
      s"$p partitions${if (merged) ", coalesce(1)" else ""}" ->
        (if (merged) out.coalesce(1) else out).collect()
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def assertSame[T](shape: String, got: Seq[T], want: Seq[T]): Unit =
    assert(got.size == want.size && got == want,
      s"$shape: ${got.size} rows for ${want.size}, first difference " +
        got.zip(want).find { case (g, w) => g != w })

  test("footprints: ids are 0..n-1 in (raster_id, i, j) order in every execution shape") {
    import spark.implicits._
    // three rasters' grids, handed over in an order unrelated to the keys
    val keys = for (r <- Seq("rb", "ra", "rc"); i <- 0 until 9; j <- 0 until 7) yield (r, i, j)
    val chips = new scala.util.Random(7).shuffle(keys).map { case (r, i, j) =>
      ChipRow(r, i, j, 0, 0, 1, 1, i.toDouble, j.toDouble, i + 1.0, j + 1.0,
        s"${r}_${i}_$j.tif", null, Array.empty, Nil, Nil)
    }.toDS()
    val want = keys.sorted.zipWithIndex.map { case ((r, i, j), id) =>
      (id.toLong, i, j, s"${r}_${i}_$j.tif")
    }
    for ((shape, rows) <- shapes(chips)(ChipPipeline.footprints)) {
      val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(7)))
        .sortBy(_._1).toSeq
      assertSame(shape, got, want)
    }
  }

  test("packSequences: bins are ⌊exclusive token prefix / capacity⌋ in every execution shape") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id".cast("long"), $"text").as[(Long, String)]
    var prefix = 0L
    val want = docs.collect().sortBy(_._1).map { case (id, text) =>
      val n = text.split(" ", -1).length.toLong
      val bin = prefix / 256
      prefix += n
      (id, n, bin)
    }.toSeq
    assert(want.map(_._3).distinct.size > 1, "the corpus must fill several bins")
    for ((shape, rows) <- shapes(docs)(ds => TextOps.packSequences(ds.toDF(), capacity = 256))) {
      val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assertSame(shape, got, want)
    }
  }

  test("sequence_pack: the catalog.spreadRead gate forced either way gives the same bins") {
    def run(spread: Boolean) = {
      val (rows, gates) = Gate.scope(Map("catalog.spreadRead" -> spread))(Owned.scope(
        graft.QueryCatalog.queries("sequence_pack")(spark, sf).collect()))
      assert(gates.map(g => (g.gate, g.small)) == Seq("catalog.spreadRead" -> spread))
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1).toSeq
    }
    val spread = run(spread = true)
    assert(spread.nonEmpty)
    assert(spread == run(spread = false))
  }
}
