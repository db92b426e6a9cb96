package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for the training-data pipeline: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup. All pure
  * `functions._` relational plans (codegen'd, shuffle only on the group/join
  * keys) — at 100 TB the LSH variants shuffle only (band_key, doc_id) pairs,
  * never the documents themselves.
  *
  * Two scale guards bound the classic hot-bucket quadratics:
  *
  *  1. '''Exact-duplicate collapse''' ([[collapseExact]]) — D identical
  *     documents in one LSH bucket would contribute D²/2 candidate pairs;
  *     collapsed to one representative they contribute 0, and the pairs are
  *     restored exactly afterwards. Collapse costs ~3 extra shuffles, so it
  *     is engaged '''adaptively''': a one-pass hash-only probe
  *     ([[dupPairMass]]) measures the exact duplicate-driven candidate mass
  *     Σ Dᵢ(Dᵢ−1) and collapses only when it exceeds
  *     [[CollapsePairsPerDoc]] × N (the `dedup.collapse` [[Gate]]).  The two
  *     paths are provably output-identical (signatures, shingles and
  *     simhashes depend only on the text), which DedupScaleGuardSpec pins.
  *  2. '''Blocking-key document-frequency cap''' — a blocking key (shingle,
  *     band signature, simhash quarter, sign-LSH bucket) shared by many
  *     *distinct* documents (boilerplate phrases, templated pages) produces
  *     DF²/2 candidates. Keys whose DF — counted over distinct texts, so
  *     both collapse paths agree — exceeds the cap are dropped from
  *     candidate generation.  This is the standard LSH trade: bounded
  *     recall loss on boilerplate keys for a hard `DF ≤ cap` bound per key.
  *     Verification is unaffected (Jaccard / Hamming / cosine are still
  *     computed on the full shingle set / fingerprint / vector), and the
  *     DuckDB oracles mirror the identical cap. Every pair family —
  *     MinHash-LSH, n-gram Jaccard, SimHash, [[hammingPairs]] and
  *     [[Similarity]]'s two cosine forms — gets its cap, skew probe and
  *     blocked join from ONE operator, [[blockedPairs]].
  *
  * Blocking intermediates (shingle tables, capped key tables, signatures)
  * are cached and checkpointed through [[Owned]]. */
object Dedup {

  /** DF cap for shingle blocking keys (ngram Jaccard candidates). */
  val ShingleDfCap = 64
  /** DF cap for MinHash band keys (bands of 2 of 8 minhashes are already
    * selective; the cap only guards degenerate corpora). */
  val BandDfCap = 64
  /** DF cap for simhash 15-bit quarter keys — the least selective blocking
    * family (similar templated texts cluster on quarters). */
  val QuarterDfCap = 128
  /** Collapse probe threshold: collapse exact dups before blocking when the
    * duplicate-driven candidate mass Σ Dᵢ(Dᵢ−1) exceeds this many pairs per
    * document — i.e. when dup quadratics would outweigh the ~3 extra
    * shuffles the collapse costs. */
  val CollapsePairsPerDoc = 4.0

  private def toks(c: Column): Column = split(c, " ")

  /** Exact dedup: group by content hash, keep the smallest doc_id.
    * Output: (text_hash, n_copies, keeper_id). */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"))

  /** Exact duplicate-group profile in ONE hash-only aggregation (the shuffle
    * carries (md5, partial count) pairs, combined map-side): returns
    * (Σ Dᵢ(Dᵢ−1) as a double, N).  Σ Dᵢ(Dᵢ−1) is exactly twice the number of
    * candidate pairs that exact duplicates would inject into any blocking
    * stage — the quantity the collapse exists to eliminate. */
  private[graft] def dupPairMass(docs: DataFrame): (Double, Long) = {
    val r = docs.groupBy(md5(col("text")).as("th"))
      .agg(count(lit(1)).cast("double").as("n"))
      .agg(sum(col("n") * (col("n") - lit(1.0))).as("mass"),
        sum(col("n")).as("total"))
      .head()
    if (r.isNullAt(0)) (0.0, 0L) else (r.getDouble(0), r.getDouble(1).toLong)
  }

  /** Collapse exact-duplicate texts to one representative (min doc_id)
    * BEFORE any quadratic blocking stage. Returns (reps, members): `reps` is
    * one (doc_id, text) row per distinct text; `members` maps every doc_id
    * to its group's representative. Pair sets are preserved EXACTLY:
    * signatures/shingles/simhashes depend only on the text, so (mᴬ, mᴮ) is a
    * candidate iff (repᴬ, repᴮ) is, and the verified score is identical —
    * [[expandPairs]] restores the full pair set, and within-group pairs are
    * emitted directly (score = exact match) by [[collapsedPairs]], gated on
    * the representative surviving blocking (≥1 non-hot key), mirroring the
    * uncollapsed pipeline. */
  private def collapseExact(docs: DataFrame): (DataFrame, DataFrame) = {
    // groupBy(text) instead of a window over md5(text): partial aggregation
    // combines duplicates map-side (on a dup-heavy corpus the shuffle
    // carries each distinct text ~once) and needs no sort
    val reps = Owned.persist(docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text")))
    // built once, now: both joins of `expandPairs` and both sides of the
    // in-group self-join read it in one action, so a lazy cache would be
    // first-built by several stages at once
    val members = docs.select(col("doc_id"), md5(col("text")).as("th"))
      .join(reps.select(md5(col("text")).as("th"), col("doc_id").as("rep")), Seq("th"))
      .select("doc_id", "rep")
    (reps, Owned.checkpoint(members))
  }

  /** Expand representative-level pairs back to all member pairs, preserving
    * the payload columns (scores depend only on the texts, which are
    * identical within a group). Emits doc_a < doc_b. */
  private def expandPairs(repPairs: DataFrame, members: DataFrame): DataFrame =
    repPairs
      .join(members.select(col("rep").as("doc_a"), col("doc_id").as("ma")), Seq("doc_a"))
      .join(members.select(col("rep").as("doc_b"), col("doc_id").as("mb")), Seq("doc_b"))
      .select(least(col("ma"), col("mb")).as("doc_a") +:
        greatest(col("ma"), col("mb")).as("doc_b") +:
        repPairs.columns.toSeq.filterNot(Set("doc_a", "doc_b")).map(col): _*)

  /** The collapse wrapper every text pair family runs through: `pairsOn`
    * over `docs` directly, or — when the `dedup.collapse` gate measures
    * more than [[CollapsePairsPerDoc]] duplicate candidate pairs per
    * document ([[dupPairMass]]) — over one representative per
    * distinct text, expanded back to all member pairs. `pairsOn` returns
    * (pairs (doc_a, doc_b, payload…), kept (doc_id, …)): `kept` is the
    * representatives that survived blocking (≥1 non-hot key) plus whatever
    * columns the `within` payload reads from the `x` side. Within-group
    * pairs (identical texts) are emitted directly with that payload, only
    * for kept groups — mirroring the uncollapsed pipeline, where a doc
    * whose keys are all hot never becomes a candidate. */
  private def collapsedPairs(docs: DataFrame, within: Seq[Column])(
      pairsOn: DataFrame => (DataFrame, DataFrame)): DataFrame =
    if (Gate("dedup.collapse", CollapsePairsPerDoc) {
        val (mass, n) = dupPairMass(docs); if (n == 0) 0.0 else mass / n
      }) pairsOn(docs)._1
    else {
      val (reps, members) = collapseExact(docs)
      val (repPairs, kept) = pairsOn(reps)
      val grouped = members.join(kept.withColumnRenamed("doc_id", "rep"), Seq("rep"))
      val inGroup = grouped.as("x").join(grouped.as("y"),
          col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a") +: col("y.doc_id").as("doc_b") +: within: _*)
      expandPairs(repPairs, members).unionByName(inGroup)
    }

  /** Distinct shingle rows (doc_id, th, sh); th = md5(text) identifies the
    * distinct text, so blocking-key DF is counted identically whether the
    * table was built over all docs or over collapse representatives.
    *
    * Typed flatMap, NOT `explode(shingles(...))`: higher-order functions
    * are interpreted (no whole-stage codegen, no subexpression elimination
    * inside the lambda), so the `slice(split(text), i, w)` body re-runs
    * split() once per EMITTED SHINGLE — O(tokens²) per document, measured
    * as 6.2 s of the 8 s minhash-LSH wall at sf0.1. The flatMap splits once
    * per row; tokenization is identical (both split on the single-space
    * regex keeping empty tokens). */
  private def shingleTableTh(docs: DataFrame, w: Int): DataFrame = {
    import docs.sparkSession.implicits._
    Owned.persist(docs
      .select(col("doc_id").cast("long"), md5(col("text")).as("th"), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, th, text) =>
        val t = text.split(" ", -1)
        if (t.length < w) Iterator.empty
        else (0 to t.length - w).iterator.map(i => (id, th, t.slice(i, i + w).mkString(" ")))
      }
      .toDF("doc_id", "th", "sh").distinct())
  }

  /** Rows-of-the-hottest-key threshold above which [[blockedPairs]]'s
    * one-exchange window cap (which sorts the hottest key's rows in ONE
    * task) is abandoned for the wide 3-exchange form. Sized to what one
    * executor task sorts comfortably (~a few hundred MB of (key, th)
    * rows); below it the window form's single hot task is still cheaper
    * than two extra exchanges. */
  val HotKeyWindowRowLimit = 4000000L

  /** Skew probe sample fraction (deterministic seed — the decision only
    * picks between two provably output-identical plans). */
  private val SkewProbeFraction = 0.02

  /** Estimate the hottest blocking key's row multiplicity from a one-pass
    * sample of `rows` (persisted upstream, so the scan is cheap and also
    * warms the cache the downstream stages reuse). Scale-up of the sampled
    * max is a fine estimator HERE because the probe only needs to detect
    * keys that dominate the corpus (≫ [[HotKeyWindowRowLimit]] rows): such
    * a key appears ~fraction·D times in the sample with tiny relative
    * error, while keys far below the limit can be off by 10× without
    * changing the plan. */
  private[graft] def approxMaxKeyRows(rows: DataFrame, keyCols: Seq[String]): Long = {
    val r = rows.sample(withReplacement = false, SkewProbeFraction, seed = 42L)
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx")).head()
    if (r.isNullAt(0)) 0L else (r.getLong(0) / SkewProbeFraction).toLong
  }

  /** Hot-key-set size above which the anti-join build side is SHUFFLED
    * instead of broadcast. The hot set holds every key whose DF exceeds the
    * cap — bounded by |distinct (key, th) rows| / cap, NOT by
    * [[HotKeyWindowRowLimit]] — so on the degenerate corpora this path is
    * selected for it can reach millions of keys and a forced broadcast
    * would OOM the driver. 1M keys ≈ tens of MB broadcast, a safe bound. */
  val HotKeySetBroadcastLimit = 1000000L

  /** Anti-join `rows` against a hot-key set, broadcasting only when the set
    * is MEASURED small (the `dedup.hotKeySet` gate: one count over the
    * already-aggregated keys — the shuffle that produced them is cached by
    * the count and reused by the join). Above [[HotKeySetBroadcastLimit]]
    * the plain shuffle anti-join costs one more exchange of `rows` but
    * cannot OOM the driver. */
  private def antiJoinHotKeys(rows: DataFrame, hot: DataFrame,
                              keyCols: Seq[String]): DataFrame = {
    val h = Owned.persist(hot)
    val small = Gate("dedup.hotKeySet", HotKeySetBroadcastLimit)(h.count())
    rows.join(if (small) broadcast(h) else h, keyCols, "left_anti")
  }

  /** The candidate-pair operator every near-dup family calls: block →
    * hot-key cap → candidate pairs → in-stage verify → distinct.
    *
    * `rows` are key rows (id, th, key…, payload…): `th` identifies what the
    * cap counts — md5(text) for the text families, the fingerprint for
    * [[hammingPairs]], the vector id for the embedding families — and a
    * key holds at most one row per id, so keys shared by more than `cap`
    * DISTINCT th values are dropped. `nIds` (by name) is the input's id
    * count, which therefore bounds the hottest key's rows. The
    * `dedup.hotKeyProbe` gate measures it: only above
    * [[HotKeyWindowRowLimit]] does the sampled probe ([[approxMaxKeyRows]])
    * run, and only a probe above that limit switches the cap form:
    *
    *  - window (default): ONE exchange — window by the key, where
    *    max(dense_rank ordered by th) = exact count(DISTINCT th);
    *  - wide (degenerate skew): map-side distinct (key, th), per-key hash
    *    counts (the hottest key's final count receives one partial row per
    *    map partition — never a single-task sort), then [[antiJoinHotKeys]].
    *
    * Both forms filter on the exact distinct count, so they are
    * output-identical (DedupScaleGuardSpec pins every family both ways).
    * The capped rows are persisted hash-partitioned by the key, so the
    * self-join adds no exchange.
    *
    * Self form (`other` = None): pairs x.id < y.id sharing a key. Bipartite
    * form: `other` is a SMALL (id, key…) side, broadcast and uncapped.
    * `pairCols` (over `x.`/`y.` columns) ride the pairs, and `keep` (over
    * the output columns) filters them INSIDE the join stage, before the
    * distinct's exchange — the exchange carries survivors only.
    *
    * Returns (pairs (id_a, id_b, pairCols…) distinct, kept ids (id)): the
    * ids with ≥1 non-hot key, which the collapse path needs. */
  private[graft] def blockedPairs(rows: DataFrame, keyCols: Seq[String], cap: Int,
      nIds: => Long, other: Option[DataFrame] = None,
      pairCols: Seq[Column] = Nil, keep: Option[Column] = None): (DataFrame, DataFrame) = {
    val kcols = keyCols.map(col)
    val window = Gate("dedup.hotKeyProbe", HotKeyWindowRowLimit) {
      val n = nIds
      if (n <= HotKeyWindowRowLimit) n else approxMaxKeyRows(rows, keyCols)
    }
    val capped =
      if (!window) {
        val hot = rows.select(kcols :+ col("th"): _*).distinct()
          .groupBy(kcols: _*).agg(count(lit(1)).as("df"))
          .where(col("df") > cap)
          .select(kcols: _*)
        antiJoinHotKeys(rows, hot, keyCols)
      } else {
        val pw = org.apache.spark.sql.expressions.Window.partitionBy(kcols: _*)
        rows
          .withColumn("dr", dense_rank().over(pw.orderBy(col("th"))))
          .withColumn("df", max(col("dr")).over(pw))
          .where(col("df") <= cap)
          .drop("dr", "df")
      }
    val blk = Owned.persist(capped)
    val sameKey = keyCols.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _)
    val joined = other match {
      case None => blk.as("x").join(blk.as("y"), sameKey && col("x.id") < col("y.id"))
      case Some(o) => blk.as("x").join(broadcast(o).as("y"), sameKey)
    }
    val pairs = joined
      .select(col("x.id").as("id_a") +: col("y.id").as("id_b") +: pairCols: _*)
    (keep.fold(pairs)(pairs.where).distinct(), blk.select("id").distinct())
  }

  /** Shingle-blocked candidate pairs with the DF cap applied — exposed so
    * the planted hot-shingle scale test and `Measure dedup-guard` can measure
    * the candidate count (the blowup is invisible in the verified output). */
  private[graft] def ngramCandidates(docs: DataFrame, w: Int, dfCap: Int): DataFrame =
    blockedPairs(shingleTableTh(docs, w).withColumnRenamed("doc_id", "id"), Seq("sh"),
      dfCap, docs.count())._1.toDF("doc_a", "doc_b")

  /** MinHash signatures: nHashes permutations approximated by salted md5;
    * minhash_i(doc) = min over shingles of h60(i || ':' || shingle). */
  def minhashSignatures(docs: DataFrame, w: Int = 3, nHashes: Int = 8): DataFrame =
    signatures(shingleTableTh(docs, w), Seq("doc_id"), nHashes)

  /** The MinHash signature of each `keys` group of shingle rows (`sh`):
    * mh_i = min of h60(i || ':' || sh), i < nHashes, then `extra`
    * aggregates. */
  private def signatures(sh: DataFrame, keys: Seq[String], nHashes: Int,
                         extra: Seq[Column] = Nil): DataFrame = {
    val aggs = (0 until nHashes).map(i =>
      min(TextOps.fingerprintCol(concat(lit(s"$i:"), col("sh")))).as(s"mh_$i")) ++ extra
    sh.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash LSH candidate pairs → verified Jaccard over shingle sets.
    * bands of `rowsPerBand` signature values; candidates share ≥1 non-hot
    * band key ([[BandDfCap]]). Returns (doc_a, doc_b, jaccard_num,
    * jaccard_den) with a<b and jaccard ≥ minJaccard (kept as an exact
    * fraction for determinism). */
  def minhashLsh(docs: DataFrame, w: Int = 3, nHashes: Int = 8,
                 rowsPerBand: Int = 2, minJaccard: Double = 0.5,
                 bandCap: Int = BandDfCap): DataFrame =
    collapsedPairs(docs, exactJaccard) { base =>
      // ONE shingle table shared by the signature aggregation and the verify
      // join — the explode + distinct shuffle (the dominant scan at 100 TB)
      // happens once instead of twice; the same aggregation also emits each
      // doc's shingle-set size, so the verify stage reuses it instead of
      // re-scanning the shingle table for a separate count
      val sh3 = shingleTableTh(base, w)
      val sig = Owned.persist(signatures(sh3, Seq("doc_id", "th"), nHashes,
        Seq(count(lit(1)).as("n_sh"))))
      // every band's rows in ONE pass over the signature, not a per-band union
      val bands = sig.select(col("doc_id").as("id"), col("th"),
          explode(array((0 until nHashes / rowsPerBand).map { b =>
            val cols = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
            struct(lit(b).as("band"), md5(concat_ws("_", cols: _*)).as("band_key"))
          }: _*)).as("b"))
        .select(col("id"), col("th"), col("b.band"), col("b.band_key"))
      val (cand, kept) = blockedPairs(bands, Seq("band", "band_key"), bandCap,
        base.count())
      val sizes = sig.select("doc_id", "n_sh")
      (verifyJaccardOnShingles(sh3.select("doc_id", "sh"), cand.toDF("doc_a", "doc_b"),
        minJaccard, Some(sizes)), kept.toDF("doc_id").join(sizes, "doc_id"))
    }

  /** Within-group payload of the Jaccard families: identical texts are
    * exact matches, num = den = |shingles| (`n_sh` of the kept rows). */
  private def exactJaccard: Seq[Column] =
    Seq(col("x.n_sh").as("jaccard_num"), col("x.n_sh").as("jaccard_den"))

  /** Exact Jaccard over candidate pairs against a prepared (doc_id, sh)
    * shingle table (blocked joins, never a cross join). `precomputedSizes`
    * supplies per-doc shingle-set sizes when a prior aggregation already
    * produced them (minhash signatures), avoiding a second full pass over
    * the shingle table. */
  def verifyJaccardOnShingles(sh: DataFrame, cand: DataFrame,
                              minJaccard: Double,
                              precomputedSizes: Option[DataFrame] = None): DataFrame = {
    val sizes = precomputedSizes.getOrElse(
      sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh")))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard_num", col("n_common"))
      .withColumn("jaccard_den", col("n_a") + col("n_b") - col("n_common"))
      .where(col("jaccard_num") >= col("jaccard_den") * lit(minJaccard))
      .select("doc_a", "doc_b", "jaccard_num", "jaccard_den")
  }

  /** n-gram Jaccard near-dup: candidates = pairs sharing any shingle whose
    * distinct-text DF ≤ dfCap (shingle-blocked join), verified exactly over
    * the full shingle sets. */
  def ngramJaccard(docs: DataFrame, w: Int = 3, minJaccard: Double = 0.3,
                   dfCap: Int = ShingleDfCap): DataFrame =
    collapsedPairs(docs, exactJaccard) { base =>
      val sh3 = shingleTableTh(base, w)
      val (cand, kept) = blockedPairs(sh3.withColumnRenamed("doc_id", "id"), Seq("sh"),
        dfCap, base.count())
      val sh = sh3.select("doc_id", "sh")
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      (verifyJaccardOnShingles(sh, cand.toDF("doc_a", "doc_b"), minJaccard, Some(sizes)),
        kept.toDF("doc_id").join(sizes, "doc_id"))
    }

  /** Edge-count ceiling for [[connectedComponents]]'s single-task
    * union-find fast path (the `cc.oneTask` gate), shared by
    * [[Graph.pageRank]] and [[Graph.hits]]. 2M symmetric edges ≈ a few
    * hundred MB of hash-map state in one task — far under executor memory —
    * while the graphs the threshold targets (near-dup pair graphs of
    * fixture-to-moderate corpora) finish in one O(E·α) pass instead of
    * paying the loop's per-iteration shuffle fixed costs. Measured at sf0.1
    * (136k edges): 2.40 s loop → ~0.3 s fast path. */
  val LocalCcEdgeLimit = 2000000L

  /** Duplicate-CLUSTER resolution: connected components over an undirected
    * near-dup pair list (the step between "pairs" and "keepers" in a real
    * dedup pipeline — every doc maps to its component's min doc_id, the
    * keeper). Min-label propagation, pure DataFrame ops:
    * per iteration each node takes the min of its own and its neighbors'
    * labels (one equi-join + one partial-aggregated groupBy — both map-side
    * combined), until a fixpoint. Iterations = component diameter; near-dup
    * components are band-/shingle-blocked near-cliques (diameter ≤ ~3), so
    * the loop is 3–4 rounds of O(E) shuffles at any corpus size. For an
    * adversarial long-chain graph the alternating large-star/small-star
    * scheme (Kiveris et al., "Connected Components in MapReduce") drops
    * iterations to O(log n); the propagation loop below is the right
    * default for dedup graphs and fails loudly at `maxIter` rather than
    * silently emitting unconverged labels.
    *
    * pairs: (doc_a, doc_b); returns (node, label) for every node in pairs,
    * label = min doc_id of its component. The labels carry no join hint:
    * both paths end in a checkpoint with UNKNOWN stats, so a caller joining
    * them against a corpus-sized id column hints `broadcast` at that join
    * (otherwise it gets a SortMergeJoin that shuffles the corpus). At or
    * below [[LocalCcEdgeLimit]] edges the label table is ≤ 2× that many
    * rows, a measured-small broadcast at any corpus size; non-join
    * consumers stay free of hint warnings. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // an eager checkpoint, NOT a plain cache: an iterative loop over
    // cached frames still re-analyzes the whole accumulated logical plan
    // (including the pair producer's full lineage, referenced twice by the
    // union) every iteration — the driver pays O(iterations × plan) analysis
    // and eventually OOMs. Checkpointing truncates the plan to the cached
    // blocks so every iteration analyzes a constant-size tree. The
    // checkpoint kind (local, or reliable so that executor loss replays
    // from storage) is chosen in one place, [[Owned.checkpoint]].
    // symmetrize with ONE explode pass so the pair producer runs exactly
    // once into the checkpoint (a two-branch union would execute the full
    // LSH pipeline twice, and checkpointing the producer first — the old
    // form — paid an extra materialization job just to avoid that)
    val edges = Owned.checkpoint(pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct())

    // hybrid CC: a measured-small graph (the edge count is a scan of the
    // checkpoint's cached blocks) is pure per-iteration shuffle fixed cost
    // for the loop below — ONE task runs union-find over the whole edge
    // list in O(E·α) and emits the identical min-label-per-component
    // contract (union always points the larger root at the smaller, so a
    // set's root IS its minimum node id). Graphs above the limit take the
    // distributed loop. CcEquivalenceSpec pins path equality.
    if (Gate("cc.oneTask", LocalCcEdgeLimit)(edges.count())) {
      import pairs.sparkSession.implicits._
      // the union-find runs on Longs; cast the output back to the INPUT id
      // dtype so both CC paths emit an identical schema (the distributed
      // loop preserves the input type — a caller passing int ids must not
      // get a path-dependent LongType here)
      val idType = pairs.schema(pairs.schema.fieldIndex("doc_a")).dataType
      val out = Owned.checkpoint(edges.as[(Long, Long)].repartition(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x
            while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          it.foreach { case (u, v) =>
            if (!parent.contains(u)) parent(u) = u
            if (!parent.contains(v)) parent(v) = v
            val ru = find(u); val rv = find(v)
            if (ru < rv) parent(rv) = ru
            else if (rv < ru) parent(ru) = rv
          }
          val nodes = parent.keys.toArray // snapshot: find() compresses paths
          nodes.iterator.map(n => (n, find(n)))
        }
        .toDF("node", "label")
        .select(col("node").cast(idType).as("node"),
          col("label").cast(idType).as("label"))) // edges' blocks are about to go away
      Owned.release(edges)
      return out
    }

    // the loop's shuffles run at the session's partition count, which AQE
    // coalesces to the graph's size. Iteration 0 is folded into
    // initialization: label(node) = min of the CLOSED neighborhood, one
    // aggregation over the symmetric edges (every node appears as `u`).
    var labels = Owned.checkpoint(edges.groupBy(col("u").as("node"))
      .agg(min(col("v")).as("mn"))
      .select(col("node"), least(col("mn"), col("node")).as("label")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // step 1: neighbor-min — each node takes the min label in its
      // closed neighborhood
      val nbr = edges.join(labels.select(col("node").as("v"), col("label")), Seq("v"))
        .select(col("u").as("node"), col("label"))
      val relaxed = labels.unionByName(nbr)
        .groupBy("node").agg(min("label").as("label"))
      // step 2: pointer jumping (path halving) — follow label→label(label)
      // one hop (every label is itself a node id, so the self-join always
      // resolves). Neighbor-min alone converges in O(diameter) rounds — an
      // adversarial CHAIN of n near-dups would need n rounds and trip
      // maxIter; with halving the label graph's depth halves every round,
      // giving O(log n) total. Near-clique dedup graphs still converge in
      // 2-3 rounds; the halving join is over the (tiny) label table.
      // the convergence flag rides INSIDE the checkpointed frame (one join
      // with the previous labels before materialization), so the `changed`
      // count is a scan of cached blocks, not an extra shuffle job
      val next = Owned.checkpoint(relaxed
        .join(relaxed.select(col("node").as("label"), col("label").as("label2")),
          Seq("label"))
        .select(col("node"), least(col("label"), col("label2")).as("label"))
        .join(labels.select(col("node"), col("label").as("old")), Seq("node"))
        .withColumn("chg", col("label") =!= col("old"))
        .select("node", "label", "chg"))
      changed = next.where(col("chg")).count()
      Owned.release(labels)
      labels = next.drop("chg")
      iter += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter iterations")
    Owned.release(edges)
    labels
  }

  /** (doc_id, simhash) — the per-token pipeline carries NOTHING but
    * (doc_id, token): th (the 32-char text md5, functionally dependent on
    * doc_id) used to ride through both the token distinct and the bit-sum
    * aggregation, doubling each exchange's row width for a value that is
    * per-DOC, not per-token (measured at sf0.1: distinct 0.65→0.31 s,
    * agg 0.46→0.23 s). */
  private def simhashOf(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .distinct()
      .withColumn("h", TextOps.fingerprintCol(col("tok")))
    val bitSums = (0 until 60).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"s_$b"))
    val agg = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 60).map(b =>
      when(col(s"s_$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** (doc_id, th, simhash); th (needed only for the quarter cap's
    * distinct-TEXT accounting) is joined back onto the per-doc aggregate —
    * a doc-count-sized exchange, three orders smaller than the token rows
    * the old carry-through form paid for. */
  private def simhashTh(docs: DataFrame): DataFrame =
    simhashOf(docs)
      .join(docs.select(col("doc_id"), md5(col("text")).as("th")), Seq("doc_id"))
      .select("doc_id", "th", "simhash")

  /** SimHash: 60-bit fingerprint from token hashes — bit b of the simhash is
    * the majority vote of bit b over the distinct tokens' h60 values.
    * Pure relational: explode tokens → per-bit sums → reassemble. */
  def simhash(docs: DataFrame): DataFrame = simhashOf(docs)

  /** SimHash near-dup pairs: block by the 4 15-bit quarters (Hamming ≤ 3 ⇒
    * at least one quarter equal), drop quarter keys hotter than `quarterCap`
    * distinct texts, verify Hamming distance exactly. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   quarterCap: Int = QuarterDfCap): DataFrame =
    collapsedPairs(docs, Seq(lit(0).cast("int").as("hamming"))) { base =>
      val sig = simhashTh(base)
        .select(col("doc_id").as("id"), col("th"), col("simhash").as("h"))
      val (pairs, kept) = quarterPairs(sig, col("th"), maxHamming, quarterCap, base.count())
      (pairs.toDF("doc_a", "doc_b", "hamming"), kept.toDF("doc_id"))
    }

  /** The 4-quarter blocking shared by [[simhashPairs]] and [[hammingPairs]]
    * over (id, h) fingerprint rows: key (q, qk) = the q-th 15-bit quarter
    * of h, capped at `quarterCap` distinct `th` values (the text md5 for
    * simhash, h itself for hamming). The rows are persisted and the four
    * block rows of each are emitted in ONE pass (a union of per-quarter
    * projections would build the cache once per branch). Hamming is
    * verified INSIDE
    * the join stage, before the cross-quarter distinct:
    * bit_count is a couple of codegen'd instructions, while the distinct is
    * an exchange — so it carries survivors only, not every quarter
    * collision (×2 fingerprints per row). Identical output: a pair seen via
    * several quarters has the same hamming on every route. */
  private def quarterPairs(sig: DataFrame, th: Column, maxHamming: Int, quarterCap: Int,
      nIds: => Long): (DataFrame, DataFrame) = {
    val fp = Owned.persist(sig)
    val blocks = fp.select(col("id"), col("h"), th.as("th"),
        explode(array((0 until 4).map(q => struct(lit(q).as("q"),
          shiftright(col("h"), q * 15).bitwiseAND(lit(0x7fffL)).as("qk"))): _*)).as("b"))
      .select(col("id"), col("h"), col("th"), col("b.q"), col("b.qk"))
    blockedPairs(blocks, Seq("q", "qk"), quarterCap, nIds,
      pairCols = Seq(bit_count(col("x.h").bitwiseXOR(col("y.h"))).as("hamming")),
      keep = Some(col("hamming") <= maxHamming))
  }

  /** Banded Hamming near-dup pairs over PRECOMPUTED 60-bit fingerprints —
    * the [[simhashPairs]] quarter-split machinery ([[quarterPairs]]) for
    * any fingerprint family (token simhash, perceptual image dHash
    * [[Multimodal.dHash60]], audio fingerprints): block by the 4 15-bit
    * quarters (Hamming ≤ 3 ⇒ some quarter equal, so recall is total
    * there; 4..maxHamming pairs are found on the usual OR-of-bands LSH
    * terms), drop quarter keys hotter than `quarterCap` DISTINCT
    * fingerprints (`th` = the fingerprint itself, so a group of
    * byte-identical payloads counts once, the exact-collapse accounting),
    * and verify Hamming INSIDE the join stage before the cross-quarter
    * distinct (the r6 simhash lesson — the exchange carries survivors
    * only).
    *
    * Input: (id, h) with h in [0, 2^60); output (id_a, id_b, hamming),
    * id_a < id_b. Scale shape: the only corpus-sized plan is the (q, qk)
    * equi-join over the persisted quarter projection — never all-pairs;
    * the hot-key cap guards degenerate corpora (e.g. a run of blank
    * images all hashing to 0) exactly as the text-side caps do.
    *
    * RECALL CONTRACT (the LSH trade, pinned by DedupSpec): Hamming ≤ 3 is
    * found with certainty (pigeonhole over 4 quarters); a pair at
    * 4..maxHamming is found iff its differing bits leave SOME quarter
    * untouched — differences spread across all four quarters are missed
    * by construction (the oracle replays the same blocking, so the hash
    * gate shares the trade). Callers wanting certainty at d > 3 need a
    * wider band split (e.g. ⌈d+1⌉ bands), paying proportionally more
    * join volume. */
  def hammingPairs(hashes: DataFrame, maxHamming: Int = 3,
                   quarterCap: Int = QuarterDfCap): DataFrame =
    // the persisted rows are exactly (id, h), so the count below reads
    // them through the cache and builds it before the pair stages run
    quarterPairs(hashes.select(col("id"), col("h")), col("h"), maxHamming,
      quarterCap, hashes.count())._1

  /** Prior-fingerprint count at or below which [[crossCorpus]] skips the
    * Bloom stage for a plain anti-join: a prior that fits a broadcast
    * build (8-byte fingerprints; 4M ≈ tens of MB) makes the broadcast
    * LEFT ANTI join strictly better at ANY scale — the new side is not
    * shuffled AT ALL and no Bloom build pass runs. The Bloom stage's value
    * begins exactly where the prior outgrows broadcast. */
  val BloomSkipPriorLimit = 4000000L

  /** Cross-corpus (incremental) exact dedup: drop every new-crawl doc whose
    * content fingerprint already exists in a PRIOR corpus (the snapshot-
    * over-snapshot Common-Crawl pass — each monthly crawl is deduped
    * against the union of earlier ones). Two-stage at scale:
    *
    *  1. A Bloom filter over the prior fingerprints (one map-side-combined
    *     aggregation; the filter itself is megabytes for billions of keys
    *     at 1% fpp) is broadcast, and definite non-members — the VAST
    *     majority of a fresh crawl — are passed through with ZERO shuffle.
    *  2. Only Bloom-positive candidates (true dups + the fpp sliver) pay
    *     the exact fingerprint anti-join, so the join exchange carries
    *     ~dup_rate·|new| rows instead of |new|.
    *
    * False positives are exact-verified away by stage 2, so the output is
    * deterministic and identical to the measured-small prior's plain
    * broadcast anti-join (the `crossCorpus.bloomSkip` gate, see
    * [[BloomSkipPriorLimit]]; PipelineOpsSpec pins both sides) — the Bloom
    * stage is pure shuffle avoidance. Fingerprints
    * are the engine-portable 60-bit md5; only (doc_id, fp) ever shuffles.
    * Output: surviving new docs as (doc_id, fp). */
  def crossCorpus(newDocs: DataFrame, prior: DataFrame,
      fpp: Double = 0.01): DataFrame = {
    val spark = newDocs.sparkSession
    val nf = newDocs.select(col("doc_id"), TextOps.fingerprintCol(col("text")).as("fp"))
    // the prior fingerprints are read up to three times (count for
    // expectedNumItems, bloomFilter build, exact verify anti-join) —
    // persist so the prior corpus is scanned+hashed once, not per action
    val pf = Owned.persist(prior.select(TextOps.fingerprintCol(col("text")).as("fp")))
    // expectedNumItems from a cheap hash-only count; never collect the fps
    lazy val nPrior = math.max(pf.count(), 1L)
    // measured-small prior: broadcast anti-join, no Bloom build, no UDF
    // pass, zero shuffle of the new side — output-identical to the Bloom
    // path. The count is paid on both paths unless the gate is forced.
    if (Gate("crossCorpus.bloomSkip", BloomSkipPriorLimit)(nPrior))
      return nf.join(pf.distinct(), Seq("fp"), "left_anti").select("doc_id", "fp")
    val filter = pf.stat.bloomFilter("fp", nPrior, fpp)
    val bc = spark.sparkContext.broadcast(filter)
    val mightContain = udf((fp: Long) => bc.value.mightContainLong(fp))
    // a NULL fp (null text) can never match the prior side — route it to
    // the definite pass-through, exactly as the plain anti-join keeps it
    // (a primitive-typed UDF returns NULL on null input, which would
    // otherwise drop the row from BOTH branches)
    val flagged = nf.withColumn("maybe",
      when(col("fp").isNull, lit(false)).otherwise(mightContain(col("fp"))))
    val definite = flagged.where(!col("maybe")).drop("maybe")
    val verified = flagged.where(col("maybe")).drop("maybe")
      .join(pf.distinct(), Seq("fp"), "left_anti")
    definite.unionByName(verified.select("doc_id", "fp")).select("doc_id", "fp")
  }

  /** Canonical keeper selection — what a production dedup pass actually
    * emits: per near-dup cluster, the single best member (longest text,
    * doc_id tie-break) plus the member count, not the arbitrary min-id
    * representative. Takes the (doc_id, cluster_rep) assignment from
    * [[connectedComponents]] (singletons map to themselves) and the
    * corpus for the quality signal.
    *
    * The argmax is ONE map-side-combined aggregation via the min-struct
    * keeper pattern ([[graft.operators.TextOps.chunkDedup]]'s trick):
    * min(struct(-n_chars, doc_id)) is the lexicographic (quality desc,
    * id asc) winner and partial-aggregates inside the scan task, so a
    * boilerplate mega-cluster (millions of members on one key) never
    * materializes a window partition — the hot-key-safe shape at
    * 100 TB. */
  def keepBest(clusters: DataFrame, docs: DataFrame): DataFrame =
    clusters
      .join(docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars")), Seq("doc_id"))
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("n_chars")).as("neg"), col("doc_id").as("d"))).as("m"))
      .select(col("cluster_rep"), col("m.d").as("keeper"),
        (-col("m.neg")).as("keeper_chars"), col("n_members"))
}
