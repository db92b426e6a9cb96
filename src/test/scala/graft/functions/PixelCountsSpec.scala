package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession

/** The flagship's per-tile pixel histogram aggregate: both partial
  * encodings round-trip, mixed encodings merge, an empty group is all
  * zeros, and grouped counts through Spark equal a plain count. */
class PixelCountsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  private val area = 16
  private val agg = PixelCountsAgg(BoundReference(0, IntegerType, nullable = false), area)

  private def counts(nonZero: (Int, Int)*): Array[Int] = {
    val a = new Array[Int](area)
    nonZero.foreach { case (k, n) => a(k) = n }
    a
  }

  test("dense partial (at least half the pixels set) round-trips at 4 bytes a pixel") {
    val dense = counts((0 until area by 2).map(k => (k, k + 1)) :+ (area - 1 -> 70000): _*)
    val bytes = agg.serialize(dense)
    assert(bytes.length == 4 + 4 * area)
    assert(agg.deserialize(bytes).toSeq == dense.toSeq)
  }

  test("sparse partial round-trips at 8 bytes a non-zero pixel") {
    val sparse = counts(3 -> 1, 11 -> 5, 15 -> Int.MaxValue)
    val bytes = agg.serialize(sparse)
    assert(bytes.length == 4 + 8 * 3)
    assert(agg.deserialize(bytes).toSeq == sparse.toSeq)
  }

  test("merge of a dense and a sparse partial adds element-wise") {
    val a = counts((0 until area).map(k => (k, k)): _*)
    val b = counts(0 -> 2, 7 -> 3)
    val merged = agg.merge(agg.deserialize(agg.serialize(a)), agg.deserialize(agg.serialize(b)))
    assert(merged.toSeq == a.indices.map(k => a(k) + b(k)))
  }

  test("empty group: all zeros, a 4-byte partial") {
    val empty = agg.createAggregationBuffer()
    assert(empty.toSeq == Seq.fill(area)(0))
    val bytes = agg.serialize(empty)
    assert(bytes.length == 4)
    assert(agg.deserialize(bytes).toSeq == Seq.fill(area)(0))
    val row = spark.range(0).select(col("id").cast("int").as("pix"))
      .agg(CellFunctions.pixel_counts(col("pix"), area)).head()
    assert(row.getSeq[Int](0) == Seq.fill(area)(0))
  }

  test("grouped through Spark: per-group counts equal a plain count at any partitioning") {
    val n = 5000L
    def key(k: Long) = (k % 3).toInt
    def pix(k: Long) = ((k * 7919L) % area).toInt
    val want = (0L until n).groupBy(key).map { case (g, ks) =>
      g -> (0 until area).map(p => ks.count(k => pix(k) == p))
    }
    for (parts <- Seq(1, 7)) {
      val got = spark.range(0, n, 1, parts)
        .select((col("id") % 3).cast("int").as("g"),
          ((col("id") * 7919L) % area).cast("int").as("pix"))
        .groupBy("g").agg(CellFunctions.pixel_counts(col("pix"), area).as("c"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
      assert(got == want, s"$parts partitions")
    }
  }
}
