package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** kNN ring expansion vs exact brute force; IVF recall vs exact top-k;
  * LSH cosine pairs ⊆ exact pairs. */
class KnnSimilaritySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  test("ring-expansion kNN equals brute force on random points (exactness proof holds)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val pts = (0L until 2000L).map(i =>
      (i, -80.0 + rng.nextDouble() * 160.0, -170.0 + rng.nextDouble() * 340.0))
    val queries = (0L until 7L).map(q =>
      (q, -60.0 + rng.nextDouble() * 120.0, -150.0 + rng.nextDouble() * 300.0))
    val ptsDf = pts.toDF("id", "lat", "lon")
    val qDf = queries.toDF("qid", "qlat", "qlon")
    val got = Knn.knnRingExpansion(spark, ptsDf, qDf, k = 10, res = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // brute force oracle in memory
    queries.foreach { case (q, qlat, qlon) =>
      val want = pts.map { case (id, lat, lon) =>
        (id, (qlat - lat) * (qlat - lat) + (qlon - lon) * (qlon - lon))
      }.sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
      want.zipWithIndex.foreach { case (id, i) =>
        assert(got((q, i + 1)) == id, s"query $q rank ${i + 1}")
      }
    }
  }

  test("knnLarge equals brute force and knnRingExpansion; no nested-loop join") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val pts = (0L until 3000L).map(i =>
      (i, -80.0 + rng.nextDouble() * 160.0, -170.0 + rng.nextDouble() * 340.0))
    // 500 queries, including a far-from-data outlier that forces extra
    // rounds — per-query drop-out means it must not re-expand the others
    val queries = (0L until 499L).map(q =>
      (q, -60.0 + rng.nextDouble() * 120.0, -150.0 + rng.nextDouble() * 300.0)) :+
      ((499L, -89.9, -179.9))
    val ptsDf = pts.toDF("id", "lat", "lon")
    val qDf = queries.toDF("qid", "qlat", "qlon")
    val large = Knn.knnLarge(spark, ptsDf, qDf, k = 5, res = 4)
    val got = large.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got.size == 500 * 5)
    // in-memory brute force on a sample of queries + the outlier
    (queries.take(20) :+ queries.last).foreach { case (q, qlat, qlon) =>
      val want = pts.map { case (id, lat, lon) =>
        (id, (qlat - lat) * (qlat - lat) + (qlon - lon) * (qlon - lon))
      }.sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
      want.zipWithIndex.foreach { case (id, i) =>
        assert(got((q, i + 1)) == id, s"query $q rank ${i + 1}")
      }
    }
    // identical to the collected-queries form on a small set
    val small = qDf.where(col("qid") < 7)
    val a = Knn.knnLarge(spark, ptsDf, small, k = 5, res = 4)
      .collect().map(_.toSeq).toSet
    val b = Knn.knnRingExpansion(spark, ptsDf, small, k = 5, res = 4)
      .collect().map(_.toSeq).toSet
    assert(a == b)
    // plan shape: cell equi-joins only — no cartesian / nested-loop fallback
    val plan = large.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "knnLarge must never degrade to an all-pairs join")
    // every round's top-k is one Window whose partial group limit runs
    // before the qid exchange (the planner's form of a skew-proof top-k)
    val (windows, faults) = TopKPlan.faults(large, "qid")
    assert(windows >= 1 && faults.isEmpty, s"$windows top-k windows: $faults\n$plan")
  }

  // The synthetic embeddings are unclustered (intra-label cosine ≈
  // inter-label ≈ 0), so IVF recall at nProbe/nCentroids = 4/16 cannot beat
  // the partition-coverage baseline by much — on clustered real data the
  // same code concentrates neighbors in probed buckets. Assert above the
  // 25% coverage baseline, and exactness when probing everything.
  test("IVF ANN: recall@10 beats the probe-coverage baseline; =1.0 with all probes") {
    val v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = v.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteTopK(v, q, 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val ivf = Similarity.ivfTopK(v, q, 10, dim = 64, nCentroids = 16, nProbe = 4)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    // keys.toSeq: mapping a Set[Long] to per-query recalls would dedup
    // equal values before the sum and understate the mean
    val recall = exact.keys.toSeq.map(k =>
      (ivf.getOrElse(k, Set.empty) intersect exact(k)).size / 10.0).sum / exact.size
    assert(recall >= 0.25, s"IVF recall@10 = $recall (coverage baseline 4/16)")
    // probing every bucket must reproduce the exact result
    val full = Similarity.ivfTopK(v, q, 10, dim = 64, nCentroids = 16, nProbe = 16)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(exact.keys.forall(k => full(k) == exact(k)))
  }

  test("sign-LSH cosine pairs are a subset of exact pairs at the same threshold") {
    val v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val lsh = Similarity.cosinePairs(v, tau = 0.2, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = {
      val x = v.as("x"); val y = v.as("y")
      x.join(y, col("x.vec_id") < col("y.vec_id"))
        .withColumn("cos", Similarity.cosine(col("x.embedding"), col("y.embedding")))
        .where(col("cos") >= 0.2)
        .select(col("x.vec_id"), col("y.vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(lsh.subsetOf(exact))
    assert(lsh.nonEmpty, "LSH blocking should keep some near-duplicate pairs")
  }
}
