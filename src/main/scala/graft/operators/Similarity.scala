package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => WExpr}

/** Similarity search over an embedding column (Array[Float]).
  *
  * - `bruteTopK`: exact cosine top-k — the correctness baseline. The dot
  *   product is a native codegen Expression
  *   ([[graft.functions.DotProductExpr]]: double accumulation,
  *   deterministic left-to-right order).
  * - `ivfTopK`: the scale path — IVF-style coarse quantization: vectors are
  *   bucketed to their nearest of `nCentroids` deterministic probe
  *   directions; queries probe the `nProbe` nearest buckets only. At 100 TB
  *   this turns an all-pairs scan into an equi-join on bucket id.
  * - near-dup pairs at cosine ≥ τ (`cosinePairs`) LSH-bucketed by sign
  *   pattern over random hyperplanes.
  */
object Similarity {

  /** Deterministic cosine: exact float→double widening, double products
    * accumulated strictly left-to-right (codegen
    * [[graft.functions.DotProductExpr]] — same value sequence as the old
    * interpreted `aggregate(zip_with(...))` form, ~10× cheaper per pair).
    * Rounded to 6 dp so ranking is identical across engines. */
  def cosine(a: Column, b: Column): Column = {
    val dot = graft.functions.VectorOps.dot _
    round(dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b)), 6)
  }

  /** Exact top-k neighbors for the query vectors (small side, broadcast).
    * vectors: (vec_id, embedding); queries: (qid, qvec).
    * Returns (qid, rank, vec_id, cos) excluding self. */
  def bruteTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cand = vectors.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("cos", cosine(col("embedding"), col("qvec")))
    val w = WExpr.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "vec_id", "cos")
  }

  /** Deterministic pseudo-random unit-ish directions: component c of
    * direction d = (h(d, c) mod 2001 - 1000)/1000. Engine-portable (public
    * so the DuckDB oracle can embed the identical values as SQL literals). */
  def direction(d: Int, dim: Int): Seq[Double] =
    (0 until dim).map { c =>
      val h = graft.core.SplitMix64.next(d.toLong * 131071L + c.toLong)
      (java.lang.Long.remainderUnsigned(h, 2001L).toDouble - 1000.0) / 1000.0
    }

  /** IVF coarse-quantizer centroids: a deterministic sample of the data
    * itself (the classic random-init codebook). Tiny — collected once and
    * inlined as literals so assignment stays in codegen.
    *
    * Refinement is data-dependent: on near-uniform embeddings (the sf
    * fixtures) 1–5 Lloyd rounds DROP recall@10 from 0.920 to 0.84 — a
    * sampled codebook over uniform data is already balanced, and tightening
    * clusters shrinks what nProbe=4 covers — so the catalog queries run at
    * `lloydRounds = 0`. On a CLUSTERED corpus the sampled init is the
    * failure mode (a corpus ordered by source seeds every centroid from one
    * cluster) and [[kmeansRefine]] is the fix: measured on a planted
    * 8-cluster fixture, one round lifts recall@10 from the collapsed init to
    * ≈1.0 (EmbeddingRecallSpec pins it). Callers with clustered data pass
    * `lloydRounds ≥ 1` to [[ivfTopK]]/[[semDedup]]. */
  def ivfCentroids(vectors: DataFrame, nCentroids: Int): Seq[Seq[Double]] = {
    vectors.orderBy("vec_id").limit(nCentroids)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0)).toSeq
  }

  /** Lloyd refinement of an IVF codebook: `rounds` passes of assign →
    * per-bucket component mean. Scale shape per round: assignment is the
    * [[ivfBucket]] codegen argmax over literal centroids (one scan, no
    * shuffle), and the mean is a posexplode + groupBy(bucket, pos) whose
    * partial aggregation combines map-side to ≤ nCentroids×dim rows per
    * task — the exchange carries the codebook, never the vectors. The
    * collected result is nCentroids×dim doubles (the same tiny literal
    * table [[ivfCentroids]] produces). Buckets that receive no vectors keep
    * their previous centroid (the standard empty-cluster rule). */
  def kmeansRefine(vectors: DataFrame, centroids: Seq[Seq[Double]],
                   rounds: Int): Seq[Seq[Double]] = {
    var cur = centroids
    for (_ <- 0 until rounds) {
      val means = vectors
        .select(ivfBucket(col("embedding"), cur).as("bucket"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
        .groupBy("bucket", "pos").agg(avg("v").as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (b, rows) =>
          b -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cur = cur.indices.map(b => means.getOrElse(b, cur(b)))
    }
    cur
  }

  /** IVF bucket id: argmax cosine over the centroid codebook (tie → lowest
    * id). Pure column expression over literal centroid arrays. Single-pass
    * argmax via array_max over (dot, -index) structs: each centroid dot is
    * computed ONCE — a greatest() + when-chain would let Catalyst re-inline
    * every dot into every comparison (O(n²) evaluations, and the dominant
    * cost of the old 9.6 s ann_ivf plan). */
  def ivfBucket(emb: Column, centroids: Seq[Seq[Double]]): Column = {
    val dots = centroids.map { c =>
      val norm = math.sqrt(c.map(x => x * x).sum)
      graft.functions.VectorOps.dot(emb, array(c.map(lit(_)): _*)) / lit(norm)
    }
    val scored = array(dots.zipWithIndex.map { case (d, i) =>
      struct(d.as("v"), lit(-i).as("ni"))
    }: _*)
    (-array_max(scored).getField("ni")).cast("int")
  }

  /** IVF top-k: probe only the nProbe nearest centroids' buckets. Recall <1
    * by construction; the baseline for quality is bruteTopK. `lloydRounds`
    * refines the sampled codebook ([[kmeansRefine]]) — leave 0 for
    * near-uniform data, use ≥1 when the corpus is clustered (see
    * [[ivfCentroids]] for the measured trade). */
  def ivfTopK(vectors: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              lloydRounds: Int = 0): DataFrame = {
    val centroids =
      kmeansRefine(vectors, ivfCentroids(vectors, nCentroids), lloydRounds)
    val bucketed = vectors.withColumn("bucket", ivfBucket(col("embedding"), centroids))
    val qDots = centroids.zipWithIndex.map { case (c, d) =>
      val norm = math.sqrt(c.map(x => x * x).sum)
      struct((graft.functions.VectorOps.dot(col("qvec"), array(c.map(lit(_)): _*))
        / lit(norm)).as("dot"), lit(d).as("d"))
    }
    val qBuckets = queries.withColumn("probes",
        slice(reverse(array_sort(array(qDots: _*))), 1, nProbe))
      .withColumn("bucket", explode(transform(col("probes"), p => p.getField("d"))))
      .drop("probes")
    val cand = bucketed.join(broadcast(qBuckets), Seq("bucket"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosine(col("embedding"), col("qvec")))
    val w = WExpr.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "vec_id", "cos")
  }

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search"): the embedding space is cut
    * into `m` contiguous subspaces of dim/m components; each subspace gets a
    * `ksub`-entry codebook sampled from the data ([[ivfCentroids]]'s
    * deterministic first-ids sample, sliced per subspace). Returned as
    * m × ksub × (dim/m) doubles — tiny, inlined as literals downstream. */
  def pqCodebooks(vectors: DataFrame, m: Int, ksub: Int,
                  dim: Int): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    val samples = ivfCentroids(vectors, ksub)
    (0 until m).map(s => samples.map(v => v.slice(s * dsub, (s + 1) * dsub)))
  }

  /** Per-subspace Lloyd refinement of PQ codebooks — m independent k-means
    * fused into ONE pass per round: every vector emits its m (sub, code,
    * subvector) assignments in a single codegen scan — the codes come
    * from the [[graft.functions.PqCodesExpr]] kernel [[pqEncode]] uses (a
    * literal m × ksub struct-max column here made janino fail to compile
    * the stage, which then ran interpreted) — and the component means
    * aggregate map-side to ≤ m·ksub·dsub rows (1024 doubles at the
    * defaults) before the collect. Codes that receive no vectors keep
    * their centroid. Measured reality check (PqSpec, planted worst case —
    * every sampled centroid from one cluster): PQ's CLUSTER-level
    * retrieval is already robust to the collapsed codebook (precision@10
    * = 1.0 with or without refinement — inter-cluster distances dwarf
    * quantization error), while within-cluster noise-neighbors stay
    * unrankable at small ksub regardless of rounds; refinement is the
    * right tool only when sub-cluster structure EXISTS at the codebook's
    * resolution. Catalog queries stay at rounds 0. */
  def pqRefine(vectors: DataFrame, books: Seq[Seq[Seq[Double]]],
               rounds: Int, dim: Int): Seq[Seq[Seq[Double]]] = {
    val m = books.size
    val dsub = dim / m
    var cur = books
    for (_ <- 0 until rounds) {
      val means = vectors
        .select(col("embedding"), posexplode(graft.functions.PqFunctions
          .pq_codes(col("embedding"), cur)).as(Seq("sub", "code")))
        .select(col("sub"), col("code"), posexplode(
          slice(col("embedding"), col("sub") * dsub + 1, lit(dsub)).cast("array<double>"))
          .as(Seq("pos", "v")))
        .groupBy("sub", "code", "pos").agg(avg("v").as("mv"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (k, rs) => k -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq }
      cur = (0 until m).map(s => cur(s).indices.map(j =>
        means.getOrElse((s, j), cur(s)(j))))
    }
    cur
  }

  /** PQ encode: each vector compresses to m small codes — code s is the
    * argmin-L2 centroid of subspace s (64 floats → 8 bytes at m=8/ksub=16,
    * the memory trade that lets a 100-TB embedding column fit a RAM-resident
    * ANN index). Zero shuffle: one scan emitting (vec_id, sub, code) rows.
    * The code assignment is the [[graft.functions.PqCodesExpr]] kernel
    * (bit-identical to the old m × ksub struct-max column form — same IEEE
    * dot tree, same tie rule — pinned by PqSpec): the literal-struct form
    * overflowed janino's 64 KB method limit once fused with the downstream
    * count/join stage, silently dropping the WHOLE corpus stage out of
    * whole-stage codegen (guide §4). `lloydRounds` refines the sampled
    * codebooks per subspace ([[pqRefine]]) — leave 0 for near-uniform
    * data. */
  def pqEncode(vectors: DataFrame, m: Int = 8, ksub: Int = 16,
               dim: Int = 64, lloydRounds: Int = 0): DataFrame = {
    val books = pqRefine(vectors, pqCodebooks(vectors, m, ksub, dim), lloydRounds, dim)
    vectors.select(col("vec_id"),
        posexplode(graft.functions.PqFunctions.pq_codes(col("embedding"), books))
          .as(Seq("sub", "code")))
      .select(col("vec_id"), col("sub").cast("int").as("sub"), col("code"))
  }

  /** PQ top-k via asymmetric distance computation: the query stays exact
    * and scores a compressed vector as Σ_s lut[s][code_s] with
    * lut[s][j] = 2·q_s·c_{s,j} − |c_{s,j}|² (rank-equivalent to −||q−x̂||²,
    * the |q|² term being constant per query). Scale shape: the lut is
    * queries × m × ksub rows — broadcast — and the only corpus-sized plan is
    * the (sub, code) equi-join against the encoded relation followed by a
    * map-side-combined integer sum. Per-subspace lut entries are floored to
    * micro-units BEFORE the sum (the BM25 trick), so the ADC score is an
    * exact integer and ranking is engine-total. Returns
    * (qid, rank, vec_id, score_u) — approximate by construction; quality is
    * pinned against [[bruteTopK]] and an in-memory ADC reference in PqSpec. */
  def pqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, dim: Int = 64,
             lloydRounds: Int = 0): DataFrame = {
    // refine ONCE and share: encode and lut must quantize against the same
    // codebooks (a per-call refine would let float-mean nondeterminism
    // hand them subtly different ones)
    val books = pqRefine(vectors, pqCodebooks(vectors, m, ksub, dim), lloydRounds, dim)
    // both dense steps are kernels, not literal-struct column trees: the
    // old form's m × ksub dot subtrees overflowed janino's 64 KB method
    // limit when fused with the scoring join/aggregate, dropping the
    // corpus-sided stage out of whole-stage codegen AND costing ~2 s of
    // driver analysis per run (guide §4). Values are bit-identical
    // (PqSpec pins both kernels against the literal form).
    val encoded = vectors.select(col("vec_id"),
        posexplode(graft.functions.PqFunctions.pq_codes(col("embedding"), books))
          .as(Seq("sub", "code")))
      .select(col("vec_id"), col("sub").cast("int").as("sub"), col("code"))
    val lut = queries.select(col("qid"),
        explode(graft.functions.PqFunctions.pq_flat_lut(col("qvec"), books)).as("e"))
      .select(col("qid"), col("e.sub").as("sub"), col("e.code").as("code"),
        col("e.lut_u").as("lut_u"))
    val scored = encoded.join(broadcast(lut), Seq("sub", "code"))
      .groupBy("qid", "vec_id").agg(sum("lut_u").as("score_u"))
    val w = WExpr.partitionBy(col("qid"))
      .orderBy(col("score_u").desc, col("vec_id"))
    scored.where(col("vec_id") =!= col("qid"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "vec_id", "score_u")
  }

  /** Driver-side replica of [[ivfBucket]]'s assignment rule (argmax cosine
    * over the codebook, tie → lowest id) — bit-identical IEEE ops (dot and
    * |c|² accumulate left-to-right, one division by the same literal norm),
    * so a sample row's bucket computed here equals the engine's. Used to
    * form residual codebooks from a collected sample. */
  private def coarseBucketOf(e: IndexedSeq[Double], cents: Seq[Seq[Double]]): Int = {
    var best = Double.NegativeInfinity
    var bi = 0
    var d = 0
    while (d < cents.size) {
      val c = cents(d)
      var dot = 0.0
      var i = 0
      while (i < c.size) { dot += e(i) * c(i); i += 1 }
      val score = dot / math.sqrt(c.map(x => x * x).sum)
      if (score > best) { best = score; bi = d }
      d += 1
    }
    bi
  }

  /** IVFADC (Jégou et al. 2011 §IV, "Product quantization for nearest
    * neighbor search"): the composed coarse-quantizer + residual-PQ index —
    * the structure a 100-TB embedding column actually ships with. Flat PQ
    * at small ksub cannot rank within-cluster neighbors (measured
    * precision@10 ≈ 0.14 on the planted clustered fixture, PqSpec): the
    * codebook spends its resolution describing the GLOBAL spread. Encoding
    * the residual x − coarse_centroid(bucket) instead makes the PQ
    * codebook model only the local displacement distribution — which is
    * shared across buckets, so even a one-cluster codebook sample
    * generalizes — and ksub = 256 gives each subspace 8 bits of local
    * resolution.
    *
    * Scale shape: coarse assignment and residual encoding are one
    * zero-shuffle codegen-fallback kernel pass ([[graft.functions.PqResidualCodesExpr]]
    * — the codebooks ride the expression, not a join); the per-(query,
    * probed bucket) ADC tables are queries × nProbe × m × ksub rows —
    * broadcast ([[graft.functions.PqAdcLutExpr]]); the only corpus-sized
    * plan is the (bucket, sub, code) equi-join + map-side-combined integer
    * sum. Scores are exact integer micro-units (entries floored BEFORE the
    * sum, per-bucket |r_q|² bias folded into sub 0 so ranking is
    * comparable across probed buckets), ascending = nearest; ties break by
    * vec_id, so ranking is engine-total. `lloydRounds` refines the COARSE
    * codebook only (leave 0 for near-uniform data and for the oracle-gated
    * catalog query — [[kmeansRefine]]'s float means are not SQL-replayable).
    *
    * Returns (qid, rank, vec_id, dist_u) — approximate by construction;
    * PqSpec pins the within-cluster precision lift over flat PQ. */
  def ivfpqTopK(vectors: DataFrame, queries: DataFrame, k: Int, dim: Int = 64,
                nCoarse: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 256,
                lloydRounds: Int = 0): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    // residual codebooks: the deterministic first-ksub sample's residuals
    // against their OWN coarse centroids (driver-side bucket rule is the
    // engine's, bit-exact — see coarseBucketOf)
    val sample = vectors.orderBy("vec_id").limit(math.max(ksub, nCoarse))
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toIndexedSeq)
    // coarse init = the first nCoarse rows of the SAME ordered sample —
    // identical to ivfCentroids(vectors, nCoarse) (same orderBy(vec_id)
    // prefix, same cast) but without a SECOND TakeOrdered job over the
    // corpus: codebook sampling pays one pass, not two (guide §1.2 step 1:
    // don't compute things twice). kmeansRefine leaves it untouched at the
    // catalog's lloydRounds = 0.
    val cents = kmeansRefine(vectors,
      sample.take(nCoarse).map(_.toSeq: Seq[Double]).toSeq, lloydRounds)
    val books: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      sample.take(ksub).toSeq.map { e =>
        val c = cents(coarseBucketOf(e, cents))
        ((s * dsub) until ((s + 1) * dsub)).map(i => e(i) - c(i)): Seq[Double]
      }
    }
    val encoded = vectors
      .withColumn("bucket", ivfBucket(col("embedding"), cents))
      .select(col("vec_id"), col("bucket"),
        posexplode(graft.functions.PqFunctions.pq_residual_codes(
          col("embedding"), col("bucket"), cents, books)).as(Seq("sub", "code")))
    // probe rule identical to ivfTopK: top-nProbe coarse centroids by
    // cosine, ties to the larger id (the reversed ascending struct sort)
    val qDots = cents.zipWithIndex.map { case (c, d) =>
      val norm = math.sqrt(c.map(x => x * x).sum)
      struct((graft.functions.VectorOps.dot(col("qvec"), array(c.map(lit(_)): _*))
        / lit(norm)).as("dot"), lit(d).as("d"))
    }
    val qProbes = queries.withColumn("probes",
        slice(reverse(array_sort(array(qDots: _*))), 1, nProbe))
      .withColumn("bucket",
        explode(transform(col("probes"), p => p.getField("d"))))
      .drop("probes")
    val lut = qProbes.select(col("qid"), col("bucket"),
        explode(graft.functions.PqFunctions.pq_adc_lut(
          col("qvec"), col("bucket"), cents, books)).as("e"))
      .select(col("qid"), col("bucket"), col("e.sub").as("sub"),
        col("e.code").as("code"), col("e.lut_u").as("lut_u"))
    val scored = encoded.join(broadcast(lut), Seq("bucket", "sub", "code"))
      .where(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id").agg(sum("lut_u").as("dist_u"))
    val w = WExpr.partitionBy(col("qid")).orderBy(col("dist_u").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "vec_id", "dist_u")
  }

  /** Two-stage IVFADC retrieval (Jégou et al. 2011 §V.C): re-score the top
    * `kPrime` ADC candidates with EXACT distances from the uncompressed
    * vectors, then keep the best k. ADC quantization error is what caps
    * [[ivfpqTopK]]'s within-cluster recall (measured 0.475 on the planted
    * clustered fixture); re-ranking k′ = 4k candidates exactly recovers
    * the IVF-within-probe ceiling at the cost of reading k′ full vectors
    * per query — the standard production trade (every FAISS IVFADC
    * deployment ships this refine stage).
    *
    * Scale shape: the candidate list is queries × kPrime rows — broadcast —
    * so the exact pass is ONE broadcast-semi-joined scan of the vectors
    * table (only candidate rows survive the join and pay the full-vector
    * distance), then a per-qid top-k window bounded by the query count.
    * Nothing corpus-sized shuffles beyond what [[ivfpqTopK]] already does.
    *
    * Exact metric is squared L2 — what ADC approximates — computed as the
    * single IEEE tree (|x|² − 2·x·q) + |q|² (three [[graft.functions.VectorOps]]
    * dots; the oracle evaluates the identical tree via list_dot_product),
    * floored to micro-units for the emitted column; ties break by vec_id.
    * Returns (qid, rank, vec_id, dist2_fp). */
  def ivfpqRerank(vectors: DataFrame, queries: DataFrame, k: Int,
                  kPrime: Int, dim: Int = 64,
                  nCoarse: Int = 16, nProbe: Int = 4, m: Int = 8,
                  ksub: Int = 256, lloydRounds: Int = 0): DataFrame = {
    require(kPrime >= k, s"kPrime $kPrime must be >= k $k")
    val cand = ivfpqTopK(vectors, queries, kPrime, dim, nCoarse, nProbe,
        m, ksub, lloydRounds)
      .select(col("qid"), col("vec_id"))
    val dot = graft.functions.VectorOps.dot _
    val exact = vectors.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(queries), Seq("qid"))
      .withColumn("d2",
        dot(col("embedding"), col("embedding"))
          - dot(col("embedding"), col("qvec")) * lit(2.0)
          + dot(col("qvec"), col("qvec")))
    val w = WExpr.partitionBy(col("qid")).orderBy(col("d2").asc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"),
        floor(col("d2") * lit(1e6)).cast("long").as("dist2_fp"))
  }

  /** Hot-key cap for band buckets: a degenerate corpus (e.g. many all-zero
    * embeddings) can put D vectors in one band bucket → D²/2 candidates;
    * buckets larger than this are dropped from candidate generation (same
    * bounded-recall trade as Dedup's blocking-key DF caps, mirrored in the
    * DuckDB oracle). Never binds on the fixtures (max bucket ≈ N/2^width). */
  val BandBucketCap = 1024

  /** The sign-LSH band rows (id, th, band, key) of `vectors`' embedding —
    * shared by the self-join ([[cosinePairs]]) and bipartite
    * ([[crossCosinePairs]]) forms so both block with the SAME hyperplanes
    * (direction ids 100 + b·width + i, the literals the oracles embed).
    * `th` = the vector id: one row per vector per band, so a bucket's
    * distinct-th count (what [[Dedup.blockedPairs]] caps) is its row count.
    *
    * Divisor-aware banding: a caller passing nPlanes that `nBands` doesn't
    * divide (e.g. the pre-round-3 default nPlanes = 8 with the new
    * nBands = 6) gets the largest divisor of nPlanes ≤ nBands instead of an
    * IllegalArgumentException — banding is a recall/cost knob, not a
    * correctness contract, so degrading it beats breaking the signature.
    * Every band's rows come from ONE pass over the per-vector signature.
    * `persist` the signature of a corpus-sized side: the skew probe's
    * sample and the wide cap form re-read the band rows, which would
    * otherwise re-evaluate the sign dots. A small side is re-scanned. */
  private def bandRows(vectors: DataFrame, idCol: String, dim: Int,
                       nPlanes: Int, nBands: Int, persist: Boolean): DataFrame = {
    val effBands = (nBands to 1 by -1).find(nPlanes % _ == 0).getOrElse(1)
    val width = nPlanes / effBands
    val keyCols = (0 until effBands).map { b =>
      (0 until width).map { i =>
        val dir = direction(100 + b * width + i, dim)
        when(graft.functions.VectorOps.dot(col("embedding"),
          array(dir.map(lit(_)): _*)) >= 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"k$b")
    }
    val keyed = vectors.select(col(idCol).as("id") +: keyCols: _*)
    val sig =
      if (persist) keyed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      else keyed
    sig.select(col("id"), col("id").as("th"), explode(array((0 until effBands).map(b =>
        struct(lit(b).as("band"), col(s"k$b").as("key"))): _*)).as("b"))
      .select(col("id"), col("th"), col("b.band"), col("b.key"))
  }

  /** Bipartite near-neighbor pairs at cosine ≥ τ between a large `corpus`
    * and a SMALL `evalSet` — semantic decontamination (the embedding-space
    * sibling of the n-gram [[TextOps.decontaminate]]): flag every training
    * vector whose embedding sits within τ of an eval-set embedding, the
    * leakage the n-gram pass misses when the text was paraphrased.
    *
    * Scale shape: both sides get the SAME sign-LSH band keys; the eval
    * side is small by contract (an eval suite, not a corpus) so its band
    * rows BROADCAST uncapped ([[Dedup.blockedPairs]]' bipartite form), and
    * the corpus side pays one scan + the hot-bucket cap — candidate count
    * is bounded by Σ |corpus bucket| × |eval bucket| with the corpus
    * buckets capped, never an all-pairs compare. Exact cosine verifies
    * candidates, so the cap is the only recall trade (same as
    * [[cosinePairs]], mirrored in the oracle).
    * corpus: (vec_id, embedding); evalSet: (eval_id, embedding).
    * Returns (vec_id, eval_id, cos).
    *
    * Cache contract: the corpus signature and the capped corpus band rows
    * are persisted (band projections / join sides re-read them) and the
    * returned plan depends on them — callers release with
    * `spark.catalog.clearCache()` (or their own unpersist) after the
    * terminal action, same as [[graft.operators.Search.bm25TopK]]. */
  def crossCosinePairs(corpus: DataFrame, evalSet: DataFrame, tau: Double,
                       dim: Int, nPlanes: Int = 24, nBands: Int = 6,
                       bucketCap: Int = BandBucketCap): DataFrame = {
    val (cand, _) = Dedup.blockedPairs(
      bandRows(corpus, "vec_id", dim, nPlanes, nBands, persist = true),
      Seq("band", "key"), bucketCap, corpus.count(),
      other = Some(bandRows(evalSet, "eval_id", dim, nPlanes, nBands, persist = false)))
    cand.toDF("vec_id", "eval_id")
      .join(corpus.select(col("vec_id"), col("embedding").as("emb_t")), Seq("vec_id"))
      .join(broadcast(evalSet.select(col("eval_id"), col("embedding").as("emb_e"))),
        Seq("eval_id"))
      .withColumn("cos", cosine(col("emb_t"), col("emb_e")))
      .where(col("cos") >= tau)
      .select("vec_id", "eval_id", "cos")
  }

  /** Embedding near-dup pairs at cosine ≥ τ — banded sign-LSH (classic
    * OR-of-bands): `nPlanes` hyperplanes split into `nBands` bands of
    * nPlanes/nBands sign bits; a pair is a candidate iff SOME band key
    * matches, then cosine is verified exactly. All-24-bits-equal blocking
    * (the old single-band form, nBands = 1) has measured recall 0.015 at
    * τ = 0.2 on the fixture; 6 bands of 4 lift it to ≈0.5 at ~3× the
    * verify cost — at 100 TB both are (band, key) equi-joins shuffling
    * only (vec_id, key) rows, never an all-pairs comparison. The bucket
    * cap, its skew probe (degenerate bucket skew, e.g. a corpus of
    * near-identical embeddings, switches to the wide cap form) and the
    * co-partitioned self-join are [[Dedup.blockedPairs]]'. */
  def cosinePairs(vectors: DataFrame, tau: Double, dim: Int,
                  nPlanes: Int = 24, nBands: Int = 6,
                  bucketCap: Int = BandBucketCap): DataFrame = {
    val (cand, _) = Dedup.blockedPairs(
      bandRows(vectors, "vec_id", dim, nPlanes, nBands, persist = true),
      Seq("band", "key"), bucketCap, vectors.count())
    cand.toDF("vec_a", "vec_b")
      .join(vectors.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), Seq("vec_a"))
      .join(vectors.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), Seq("vec_b"))
      .withColumn("cos", cosine(col("emb_a"), col("emb_b")))
      .where(col("cos") >= tau)
      .select("vec_a", "vec_b", "cos")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): partition the embedding
    * space by nearest centroid, then mark any vector with a LOWER-id
    * neighbor at cosine ≥ τ in its OWN cluster as a semantic duplicate —
    * keep-one-per-ε-ball restricted to cluster-local comparison, which is
    * the paper's tractability trade (cross-cluster near-dups are missed by
    * construction).
    *
    * Scale shape: the quadratic is confined to one cluster, so candidate
    * count is Σ|cluster|²/2 — `nCentroids` is the knob (paper uses k ≈
    * √N-ish so clusters stay comparison-sized) and `bucketCap` hard-bounds
    * any one cluster against degenerate collapse (an over-cap cluster
    * contributes NO candidates — its members all keep, mirrored in the
    * oracle). The self-join is a (bucket) equi-join over co-partitioned
    * sides; only (bucket, vec_id, embedding) rows shuffle. Centroid
    * assignment is the [[ivfBucket]] codegen argmax — same codebook, same
    * tie rule as `ann_ivf`, already cross-engine-proven. */
  def semDedup(vectors: DataFrame, tau: Double,
               nCentroids: Int = 16, bucketCap: Int = 4096,
               lloydRounds: Int = 0): DataFrame = {
    val centroids =
      kmeansRefine(vectors, ivfCentroids(vectors, nCentroids), lloydRounds)
    val assigned = vectors
      .withColumn("bucket", ivfBucket(col("embedding"), centroids))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // cluster sizes via map-side-combined groupBy + broadcast join back —
    // NOT a count-over-window by bucket: with only nCentroids distinct
    // buckets that window would drag every cluster's full membership
    // through one task each. The size table is nCentroids rows by
    // construction, always broadcastable.
    val sizes = assigned.groupBy("bucket").agg(count(lit(1)).as("bsz"))
    val capped = assigned
      .join(broadcast(sizes.where(col("bsz") <= bucketCap)), Seq("bucket"))
      .drop("bsz")
    val dropped = capped.select(col("bucket"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"))
      .join(capped.select(col("bucket"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b")), Seq("bucket"))
      .where(col("vec_a") < col("vec_b") &&
        cosine(col("emb_a"), col("emb_b")) >= tau)
      .select(col("vec_b").as("vec_id")).distinct()
    assigned.join(dropped.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"),
        coalesce(col("hit"), lit(0)).cast("int").as("is_dup"))
  }
}
