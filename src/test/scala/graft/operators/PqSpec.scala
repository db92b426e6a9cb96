package graft.operators

import graft.functions.{Codebook, PqFunctions, VectorOps}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization: encode shape/determinism, the ADC scoring law
  * against an independent in-memory reference, and a recall floor vs exact
  * brute-force top-k (the oracle embeds the same codebooks, so the
  * cross-engine hash gate cannot catch a quality collapse — this can). */
class PqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  private lazy val vecs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select("vec_id", "embedding")

  test("pqEncode: m codes per vector, each in [0, ksub)") {
    val enc = Similarity.pqEncode(vecs, m = 8, ksub = 16, dim = 64).collect()
    val n = vecs.count()
    assert(enc.length == n * 8)
    assert(enc.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 16))
    // every vector has exactly one code per subspace
    assert(enc.map(r => (r.getLong(0), r.getInt(1))).distinct.length == enc.length)
  }

  test("pqRefine: one round equals a plain-Scala Lloyd step over the collected vectors") {
    val (m, ksub, dim) = (8, 16, 64)
    val dsub = dim / m
    val books = Similarity.pqCodebooks(vecs, m, ksub, dim)
    val got = Similarity.pqRefine(vecs, books, rounds = 1, dim = dim)
    val data = vecs.collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    for (s <- 0 until m) {
      val subs = data.map(_.slice(s * dsub, (s + 1) * dsub))
      // argmin L2 ⟺ argmax 2·x·c − |c|², lowest code on ties
      def codeOf(x: Array[Double]): Int = books(s).rows.indices.maxBy { j =>
        val c = books(s).rows(j)
        var dot = 0.0
        for (t <- 0 until dsub) dot += x(t) * c(t)
        (dot * 2.0 - c.map(v => v * v).sum, -j)
      }
      val members = subs.groupBy(codeOf)
      for (j <- 0 until ksub; t <- 0 until dsub) {
        val want = members.get(j).fold(books(s).rows(j)(t))(xs => xs.map(_(t)).sum / xs.length)
        assert(math.abs(got(s).rows(j)(t) - want) < 1e-9, s"sub $s code $j component $t")
      }
    }
  }

  test("pqTopK matches an independent in-memory ADC reference") {
    val q = vecs.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = Similarity.pqTopK(vecs, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap

    // reference: plain Scala replay of codebook sampling, encoding and ADC
    val data = vecs.orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val ids = data.keys.toSeq.sorted
    val books = (0 until 8).map(s => ids.take(16).map(id =>
      data(id).slice(s * 8, (s + 1) * 8)))
    def codeOf(v: Array[Double], s: Int): Int =
      books(s).zipWithIndex.map { case (c, j) =>
        val sub = v.slice(s * 8, (s + 1) * 8)
        (sub.zip(c).map { case (a, b) => a * b }.sum * 2.0 - c.map(x => x * x).sum, j)
      }.maxBy { case (sc, j) => (sc, -j) }._2
    def adc(qv: Array[Double], id: Long): Long = (0 until 8).map { s =>
      val c = books(s)(codeOf(data(id), s))
      val qs = qv.slice(s * 8, (s + 1) * 8)
      math.floor((qs.zip(c).map { case (a, b) => a * b }.sum * 2.0
        - c.map(x => x * x).sum) * 1e6).toLong
    }.sum
    (0L until 3L).foreach { qid =>
      val want = ids.filter(_ != qid).map(id => id -> adc(data(qid), id))
        .sortBy { case (id, s) => (-s, id) }.take(5)
      want.zipWithIndex.foreach { case ((id, s), i) =>
        assert(got((qid, i + 1)) == ((id, s)), s"query $qid rank ${i + 1}")
      }
    }
  }

  test("plan shape: ADC scoring is a broadcast equi-join — no cartesian, no shuffle-side nested loop") {
    val q = vecs.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val plan = Similarity.pqTopK(vecs, q, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("BroadcastHashJoin"), "the lut join should broadcast")
  }

  test("clustered corpus, worst-case codebook: PQ recall measured (codebooks from cluster 0 only)") {
    import spark.implicits._
    // same planted fixture as EmbeddingRecallSpec: 8 Gaussian clusters,
    // rows ordered by cluster, so the first-16-ids codebook sample sees
    // ONLY cluster 0 — every subspace codebook describes one cluster's
    // subvectors and the other seven quantize badly
    val rng = new scala.util.Random(101)
    val dim = 64; val nClusters = 8; val per = 250
    val centers = Array.fill(nClusters, dim)(rng.nextGaussian())
    val rows = for (c <- 0 until nClusters; j <- 0 until per) yield {
      val emb = Array.tabulate(dim)(d =>
        (centers(c)(d) + 0.35 * rng.nextGaussian()).toFloat)
      ((c * per + j).toLong, emb)
    }
    val v = rows.toDF("vec_id", "embedding")
    val q = v.where(col("vec_id") % per === 37)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // ground truth = exact L2 top-10, NOT cosine: ADC approximates
    // −||q−x̂||², so L2 is the apples-to-apples target (on un-normalized
    // vectors the two rankings differ even without quantization)
    val data = rows.map { case (id, e) => id -> e.map(_.toDouble) }.toMap
    val qids = data.keys.filter(_ % per == 37).toSeq.sorted
    val exact = qids.map { qid =>
      val qv = data(qid)
      qid -> data.keys.filter(_ != qid).map { id =>
        val d = data(id).zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
        (d, id)
      }.toSeq.sortBy(identity).take(10).map(_._2).toSet
    }.toMap
    def measure(lloydRounds: Int): (Double, Double) = {
      val pq = Similarity.pqTopK(v, q, 10, lloydRounds = lloydRounds)
        .collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
      val recall = qids.map(k =>
        (pq.getOrElse(k, Set.empty) intersect exact(k)).size / 10.0).sum / qids.size
      val clusterPrec = qids.map { k =>
        pq.getOrElse(k, Set.empty).count(_ / per == k / per) / 10.0
      }.sum / qids.size
      (recall, clusterPrec)
    }
    val (r0, c0) = measure(0); val (r1, c1) = measure(1); val (r3, c3) = measure(3)
    info(f"PQ@ksub=16 on clustered data — recall@10 / cluster-precision@10: collapsed $r0%.3f/$c0%.3f, 1 Lloyd $r1%.3f/$c1%.3f, 3 Lloyd $r3%.3f/$c3%.3f")
    // The measured story (recorded on purpose, like the IVF-on-uniform
    // negative result), and it has two sides:
    //  - cluster-level retrieval is ROBUST: precision@10 reads 1.000 even
    //    with the fully-collapsed codebook (inter-cluster distances dwarf
    //    quantization error, so residual ADC scores still separate
    //    clusters) — and refinement therefore has nothing to lift here;
    //  - within-cluster ranking is UNRANKABLE at small ksub: this
    //    fixture's cluster-mates differ only by noise, so fine recall sits
    //    near k/cluster_size (0.04) for ANY codebook (collapsed, 1 or 3
    //    Lloyd rounds, even ksub=64 measured 0.138). Production PQ buys
    //    that resolution with ksub=256 + residual/OPQ encodings.
    assert(c0 >= 0.95 && c3 >= 0.95,
      s"PQ must retrieve from the right cluster regardless of codebook: $c0 / $c3")
    assert(r0 >= 0.03 && r3 >= 0.03, s"fine recall below the noise floor: $r0 / $r3")
  }

  test("plan shape: IVFADC scoring is a broadcast equi-join on (bucket, sub, code)") {
    val q = vecs.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val plan = Similarity.ivfpqTopK(vecs, q, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("BroadcastHashJoin"), "the ADC lut join should broadcast")
    // codebooks print by shape; carried as literal arguments, the centroids
    // and residual codebooks print ~730k characters and Spark truncates
    // the plan string
    assert(plan.length < 50000, s"IVFADC executed plan prints ${plan.length} characters")
  }

  // The IVF rules as the column trees the kernels replaced: the bucket is
  // array_max over (cosine, -id) structs (tie → lowest id), the probes
  // the first nProbe of the reversed ascending (cosine, id) struct sort
  // (tie → larger id). The cosine is the literal-array dot over the
  // driver-computed sqrt(Σc²).
  private def cosineCols(v: Column, cb: Codebook): Seq[Column] = cb.rows.map { c =>
    VectorOps.dot(v, array(c.map(lit(_)): _*)) / lit(math.sqrt(c.map(x => x * x).sum))
  }
  private def bucketTree(v: Column, cb: Codebook): Column =
    (-array_max(array(cosineCols(v, cb).zipWithIndex.map { case (d, i) =>
      struct(d.as("v"), lit(-i).as("ni"))
    }: _*)).getField("ni")).cast("int")
  private def probeTree(v: Column, cb: Codebook, nProbe: Int): Column =
    transform(slice(reverse(array_sort(array(cosineCols(v, cb).zipWithIndex.map {
      case (d, i) => struct(d.as("dot"), lit(i).as("d"))
    }: _*))), 1, nProbe), p => p.getField("d"))

  test("IVF kernels equal the column trees they replaced and the driver rule, both tie directions") {
    val cents = Similarity.ivfCentroids(vecs, 16)
    // row 3 again as row 16: a vector nearest row 3 ties with row 16, so
    // it is assigned 3 (lowest id) and probes 16 before 3 (larger id)
    val dup = Codebook(cents.rows :+ cents.rows(3))
    for (cb <- Seq(cents, dup)) {
      val rows = vecs.select(col("embedding").cast("array<double>"),
          PqFunctions.ivf_assign(col("embedding"), cb), bucketTree(col("embedding"), cb),
          PqFunctions.ivf_probe(col("embedding"), cb, 4), probeTree(col("embedding"), cb, 4))
        .collect()
      assert(rows.length == vecs.count())
      rows.foreach { r =>
        val v = r.getSeq[Double](0).toArray
        assert(r.getInt(1) == r.getInt(2), s"$cb assignment")
        assert(r.getInt(1) == cb.nearest(v), s"$cb driver assignment")
        assert(r.getSeq[Int](3) == r.getSeq[Int](4), s"$cb probes")
        assert(cb.probe(v, 4).toSeq == r.getSeq[Int](3), s"$cb driver probes")
      }
      if (cb == dup) {
        val tied = rows.filter(_.getInt(1) == 3).map(_.getSeq[Int](3).take(2))
        assert(tied.nonEmpty && tied.forall(_ == Seq(16, 3)), tied.toSeq)
      }
    }
  }

  test("IVFADC: residual encoding + ksub=256 lifts within-cluster recall far above flat PQ") {
    import spark.implicits._
    // the same planted fixture (8 Gaussian clusters, rows ordered by
    // cluster) on which flat PQ measured recall@10 ≈ 0.04 (ksub=16, any
    // codebook) and 0.138 (ksub=64): cluster-mates differ only by noise,
    // so ranking them needs LOCAL resolution. IVFADC encodes the residual
    // against the (Lloyd-refined) coarse centroid — the residual
    // distribution is shared across clusters, so even the one-cluster
    // first-256 codebook sample generalizes — and ksub=256 spends all 8
    // bits per subspace on that local displacement.
    val rng = new scala.util.Random(101)
    val dim = 64; val nClusters = 8; val per = 250
    val centers = Array.fill(nClusters, dim)(rng.nextGaussian())
    val rows = for (c <- 0 until nClusters; j <- 0 until per) yield {
      val emb = Array.tabulate(dim)(d =>
        (centers(c)(d) + 0.35 * rng.nextGaussian()).toFloat)
      ((c * per + j).toLong, emb)
    }
    val v = rows.toDF("vec_id", "embedding")
    val q = v.where(col("vec_id") % per === 37)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val data = rows.map { case (id, e) => id -> e.map(_.toDouble) }.toMap
    val qids = data.keys.filter(_ % per == 37).toSeq.sorted
    // ground truth: exact L2 (what ADC approximates)
    val exact = qids.map { qid =>
      val qv = data(qid)
      qid -> data.keys.filter(_ != qid).map { id =>
        val d = data(id).zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
        (d, id)
      }.toSeq.sortBy(identity).take(10).map(_._2).toSet
    }.toMap
    val got = Similarity.ivfpqTopK(v, q, 10, dim = dim,
        nCoarse = 8, nProbe = 2, m = 8, ksub = 256, lloydRounds = 3)
      .collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = qids.map(k =>
      (got.getOrElse(k, Set.empty) intersect exact(k)).size / 10.0).sum / qids.size
    val clusterPrec = qids.map { k =>
      got.getOrElse(k, Set.empty).count(_ / per == k / per) / 10.0
    }.sum / qids.size
    info(f"IVFADC (nCoarse=8+3 Lloyd, nProbe=2, m=8, ksub=256) on clustered data — " +
      f"recall@10 $recall%.3f, cluster-precision@10 $clusterPrec%.3f (flat-PQ baselines: 0.04 @ksub=16, 0.138 @ksub=64)")
    assert(clusterPrec >= 0.95, s"IVFADC retrieved from the wrong cluster: $clusterPrec")
    // the verdict-grade claim: materially above the flat-PQ 0.138 ceiling
    assert(recall >= 0.30, s"IVFADC within-cluster recall did not lift over flat PQ: $recall")
  }

  test("IVFADC + exact re-rank recovers recall ADC quantization error loses") {
    import spark.implicits._
    // same planted fixture as the IVFADC test: within-probe the exact
    // ground-truth neighbors ARE reachable (cluster-precision 1.0), so the
    // only recall loss left is ADC quantization error — which the exact
    // re-rank of the top k′=4k candidates removes (Jégou 2011 §V.C)
    val rng = new scala.util.Random(101)
    val dim = 64; val nClusters = 8; val per = 250
    val centers = Array.fill(nClusters, dim)(rng.nextGaussian())
    val rows = for (c <- 0 until nClusters; j <- 0 until per) yield {
      val emb = Array.tabulate(dim)(d =>
        (centers(c)(d) + 0.35 * rng.nextGaussian()).toFloat)
      ((c * per + j).toLong, emb)
    }
    val v = rows.toDF("vec_id", "embedding")
    val q = v.where(col("vec_id") % per === 37)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val data = rows.map { case (id, e) => id -> e.map(_.toDouble) }.toMap
    val qids = data.keys.filter(_ % per == 37).toSeq.sorted
    val exact = qids.map { qid =>
      val qv = data(qid)
      qid -> data.keys.filter(_ != qid).map { id =>
        val d = data(id).zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
        (d, id)
      }.toSeq.sortBy(identity).take(10).map(_._2).toSet
    }.toMap
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
      qids.map(k => (got.getOrElse(k, Set.empty) intersect exact(k)).size / 10.0)
        .sum / qids.size
    }
    val adcOnly = recallOf(Similarity.ivfpqTopK(v, q, 10, dim = dim,
      nCoarse = 8, nProbe = 2, m = 8, ksub = 256, lloydRounds = 3))
    val reranked = recallOf(Similarity.ivfpqRerank(v, q, 10, kPrime = 40,
      dim = dim, nCoarse = 8, nProbe = 2, m = 8, ksub = 256, lloydRounds = 3))
    info(f"recall@10 — ADC only $adcOnly%.3f, + exact re-rank of top 40: $reranked%.3f")
    assert(reranked >= adcOnly,
      s"re-ranking with exact distances must not lose recall: $reranked < $adcOnly")
    // the verdict-grade claim: materially above the measured ~0.475 ADC wall
    assert(reranked >= 0.70, s"re-rank did not lift recall materially: $reranked")
  }

  test("pqTopK recall vs exact brute force stays above the pinned floor") {
    val q = vecs.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteTopK(vecs, q, 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val pq = Similarity.pqTopK(vecs, q, 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = exact.keys.toSeq.map(k =>
      (pq.getOrElse(k, Set.empty) intersect exact(k)).size / 10.0).sum / exact.size
    info(f"PQ (m=8, ksub=16) recall@10 vs exact cosine: $recall%.3f")
    // PQ ranks by compressed L2 while the baseline ranks by exact cosine —
    // on the near-uniform fixture the floor is deliberately modest; the
    // cross-engine gate (pq_topk oracle) pins exact agreement, this pins
    // that compression keeps signal at all
    assert(recall >= 0.15, s"PQ recall collapsed: $recall")
  }
}
