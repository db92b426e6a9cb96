package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the large-scale training-data pipeline:
  * language id, quality scoring, token counting, fingerprinting. All built
  * from `org.apache.spark.sql.functions` (whole-stage codegen; no UDFs) so
  * they scan 100 TB at parquet-reader speed with column pruning — each takes
  * and returns a DataFrame with `doc_id` and `text` columns. */
object TextOps {

  private def tokens(c: Column): Column = split(c, " ")

  /** Whitespace token count plus a BPE-ish subword count (runs of letters,
    * digits, or single punctuation — a cheap proxy for byte-pair pieces). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      size(split(col("text"), "[a-z]+|[0-9]+|[^a-z0-9 ]")).as("n_pieces_sep"),
      length(col("text")).as("n_bytes"))

  /** Marker-stopword language id: count token hits per language's marker
    * set; predict the argmax with a fixed precedence order. Deterministic
    * n-gram-style heuristic expressible in pure relational form. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "over", "data", "fast", "small"),
    "es" -> Seq("la", "el", "los", "datos", "sobre", "mesa"),
    "de" -> Seq("der", "die", "und", "daten", "klein", "schnell"),
    "fr" -> Seq("le", "les", "et", "sur", "petit", "vite"))

  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = langMarkers.foldLeft(docs.select(col("doc_id"), col("text"))) {
      case (df, (lang, markers)) =>
        df.withColumn(s"score_$lang",
          size(filter(toks, t => t.isin(markers.map(lit(_)): _*))))
    }
    // argmax with precedence en > es > de > fr on ties
    val langs = langMarkers.map(_._1)
    val best = langs.map(l => col(s"score_$l")).reduce((a, b) => greatest(a, b))
    val predicted = langs.foldRight(lit("und")) { case (l, acc) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    scored.select(col("doc_id") +: langs.map(l => col(s"score_$l")) :+
      predicted.as("predicted_lang"): _*)
  }

  /** Quality scoring: length, mean token length, stopword ratio,
    * all-caps/punct ratios — the standard webtext quality heuristics,
    * integer/rational outputs for cross-engine determinism. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val stop = Seq("the", "and", "a", "of", "to", "in", "over")
    docs.select(col("doc_id"),
      length(col("text")).as("n_chars"),
      size(toks).as("n_tokens"),
      size(filter(toks, t => t.isin(stop.map(lit(_)): _*))).as("n_stopwords"),
      size(filter(toks, t => length(t) <= lit(2))).as("n_short_tokens"),
      (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).as("n_spaces"))
      .withColumn("mean_token_len",
        (col("n_chars") - col("n_spaces")).cast("double") / col("n_tokens"))
      .withColumn("quality_ok",
        col("n_tokens") >= 15 && col("mean_token_len") >= 2.0 &&
          col("n_stopwords") * 20 >= col("n_tokens"))
  }

  /** 64-bit-ish document fingerprint: md5 → first 15 hex chars → bigint.
    * Identical in any engine with a standard md5. */
  def fingerprintCol(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprintCol(col("text")).as("fingerprint"))

  /** Rolling-window fingerprint (winnowing-style): hash every 3-word
    * window (duplicates INCLUDED — the fold and window count are over the
    * raw sequence), fold with min / sum-mod — robust to local edits; the
    * aggregation is map-side combinable.
    *
    * Windows come from a typed flatMap, not `explode(shingles(...))`:
    * higher-order functions are interpreted, and the slice-of-split lambda
    * re-runs split() once per EMITTED window — O(tokens²) per document
    * (the same trap measured at 6.2 s in the dedup shingle table).
    * Tokenization is identical (single-space split keeping empty tokens). */
  def rollingFingerprints(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val sh = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        if (t.length < 3) Iterator.empty
        else (0 to t.length - 3).iterator.map(i => (id, t.slice(i, i + 3).mkString(" ")))
      }
      .toDF("doc_id", "sh")
      .withColumn("h", fingerprintCol(col("sh")))
    sh.groupBy("doc_id").agg(
      min("h").as("fp_min"),
      max("h").as("fp_max"),
      (sum(col("h") % lit(1000000007L)) % lit(1000000007L)).as("fp_fold"),
      count(lit(1)).as("n_windows"))
  }

  /** Sequence packing for training batches: assign docs (in global doc_id
    * order) to fixed-capacity token bins — bin = ⌊tokens-before-doc /
    * capacity⌋, the sequential-fill contract. The global running sum is a
    * DISTRIBUTED PREFIX SUM, not a global window (which would sort
    * everything in ONE task): range-partition by doc_id, per-partition
    * token totals (one row per partition) to the driver, broadcast the
    * cumulative offsets back, then a partition-local scan. Bin assignment
    * is partition-count-invariant by construction — offsets are computed
    * against whatever boundaries the range partitioner picked.
    *
    * `nTokens` is the per-doc length measure — whitespace token count by
    * default; pass [[bpeEncode]]'s `n_tokens` column to pack on REAL
    * tokenizer output instead of the whitespace proxy. */
  def packSequences(docs: DataFrame, capacity: Long,
      nTokens: Column = size(tokens(col("text"))).cast("long")): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.TaskContext
    // the partition id is frozen into the cached rows (evaluated in the
    // cache-build stage) rather than read from TaskContext in the
    // assignment pass: a downstream coalesce() would pipeline the pass
    // into one task whose TaskContext id is the coalesced partition's,
    // restarting the offset for every merged parent — the footprints
    // lesson ([[graft.operators.ChipPipeline.footprints]]); data-carried
    // pids make the enumeration correct in any execution shape.
    val parts = Owned.persist(docs
      .select(col("doc_id").cast("long"),
        nTokens.cast("long").as("n_tokens"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions("doc_id")
      .withColumn("pid", spark_partition_id())
      .as[(Long, Long, Int)])
    val partTotals = parts.groupBy(col("pid")).agg(sum(col("n_tokens")).as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val maxPid = if (partTotals.isEmpty) -1 else partTotals.map(_._1).max
    val offsets = new Array[Long](maxPid + 2)
    partTotals.foreach { case (pid, s) => offsets(pid + 1) = s }
    var i = 1
    while (i < offsets.length) { offsets(i) += offsets(i - 1); i += 1 }
    val bc = spark.sparkContext.broadcast(offsets)
    val out = parts.mapPartitions { it =>
      val off = bc.value
      var curPid = -1
      var acc = 0L
      it.map { case (id, n, pid) =>
        if (pid != curPid) { curPid = pid; acc = off(pid) }
        val bin = acc / capacity
        acc += n
        (id, n, bin)
      }
    }.toDF("doc_id", "n_tokens", "bin")
    // `parts` stays cached until the caller's scope closes: the offsets
    // were computed against ITS materialized partition boundaries, and the
    // result must scan those same cached partitions
    out
  }

  /** Gopher-style repetition + format filters (Rae et al. 2021 §A1.1, the
    * signal set most open LLM-data pipelines reuse): word count bounds,
    * mean word length 3–10, symbol-to-word ratio, alphabetic-word
    * fraction, stop-word floor, duplicate-bigram fraction. All signals
    * are emitted as INTEGER counts and the pass flag compares integers
    * only (5·n_alpha ≥ 4·n_words instead of a 0.8 ratio) — bit-identical
    * in any engine, no FP in the hash path. The per-token signals are
    * codegen relational; the bigram repetition signal is the one
    * order-dependent piece and uses the same O(tokens) typed flatMap as
    * [[rollingFingerprints]] (a slice-of-split HOF would be O(tokens²)),
    * aggregated with map-side-combinable count + distinct per doc. */
  def gopherQuality(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = tokens(col("text"))
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // '#' and '...' occurrences — literal non-overlapping left-to-right
    // replacement, same contract as the oracle's replace()
    val nHash = length(col("text")) - length(regexp_replace(col("text"), "#", ""))
    val nEllipsis = (length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3
    val perToken = docs.select(col("doc_id").cast("long").as("doc_id"),
      size(toks).cast("long").as("n_words"),
      length(regexp_replace(col("text"), " ", "")).cast("long").as("n_letters"),
      size(filter(toks, t => t.rlike("[a-z]"))).cast("long").as("n_alpha_words"),
      size(filter(toks, t => t.isin(stop.map(lit(_)): _*))).cast("long").as("n_stop"),
      (nHash + nEllipsis).cast("long").as("n_symbols"))
    val bigrams = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        (0 until t.length - 1).iterator.map(i => (id, t(i) + " " + t(i + 1)))
      }
      .toDF("doc_id", "bg")
      // hash each bigram to the engine-portable 60-bit fingerprint BEFORE
      // the aggregation: countDistinct's partial-distinct stage exchanges
      // every distinct (doc_id, key) pair, and with raw `bg` that is
      // O(corpus tokens) of full bigram STRINGS — the widest text-analysis
      // shuffle in the catalog. Hashed, the exchange carries 16-byte rows
      // (same contract as substringDedup). The distinct-hash count equals
      // the distinct-bigram count modulo md5 collisions, and the oracle
      // hashes identically, so the gate stays exact either way.
      .select(col("doc_id"), fingerprintCol(col("bg")).as("bh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("bh")).as("n_distinct_bigrams"))
    perToken.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("n_letters"),
        col("n_alpha_words"), col("n_stop"), col("n_symbols"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (coalesce(col("n_bigrams"), lit(0L)) -
          coalesce(col("n_distinct_bigrams"), lit(0L))).as("n_dup_bigrams"))
      .withColumn("gopher_ok",
        col("n_words") >= 15 && col("n_words") <= 100000 &&
          col("n_letters") >= col("n_words") * 3 &&
          col("n_letters") <= col("n_words") * 10 &&
          col("n_symbols") * 10 <= col("n_words") &&
          col("n_alpha_words") * 5 >= col("n_words") * 4 &&
          col("n_stop") >= 1 &&
          col("n_dup_bigrams") * 5 <= col("n_bigrams"))
  }

  /** Benchmark decontamination (the GPT-3 appendix-C / Dolma pass): flag
    * corpus documents sharing any w-gram with an evaluation/benchmark set,
    * so eval data can be held out of training. Tokenization is Dedup's
    * shingle contract (single-space split keeping empty tokens, grams
    * joined by a space).
    * Returns (doc_id, n_matched_grams = DISTINCT grams hit, contaminated).
    *
    * Hybrid driver-memory discipline (the crossCorpus/CC/bpeTrain
    * pattern): a benchmark whose distinct gram count measures ≤ 2M (the
    * `decontaminate.gramSet` gate) — the normal case, eval suites are
    * thousands of documents — collects its grams into ONE broadcast Set, and the
    * corpus side is a zero-shuffle typed mapPartitions pass. Above the
    * limit nothing corpus-scale is ever collected: a BLOOM filter over
    * the benchmark grams is built distributively
    * ([[org.apache.spark.sql.DataFrameStatFunctions.bloomFilter]]) and
    * broadcast, each doc emits only its DISTINCT Bloom-positive grams
    * (true hits + the fpp sliver), and an exact string equi-join against
    * the benchmark gram relation removes the false positives — so the
    * two paths are output-identical (TextOpsSpec pins it) and only the
    * positive sliver ever shuffles. The distinct-gram frame is cached
    * (count, Set-collect/Bloom build, and the verify join all read it). */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, w: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def grams(text: String): Iterator[String] = {
      val t = text.split(" ", -1)
      if (t.length < w) Iterator.empty
      else (0 to t.length - w).iterator.map(i => t.slice(i, i + w).mkString(" "))
    }
    val benchGramDf = Owned.persist(benchmark.select(col("text")).as[String]
      .flatMap(grams(_)).toDF("g").distinct())
    lazy val nGrams = benchGramDf.count()
    if (Gate("decontaminate.gramSet", 2000000L)(nGrams)) {
      val bc = spark.sparkContext.broadcast(
        benchGramDf.as[String].collect().toSet)
      docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val set = bc.value
          it.map { case (id, text) =>
            val seen = scala.collection.mutable.HashSet.empty[String]
            grams(text).foreach(g => if (set.contains(g)) seen.add(g))
            (id, seen.size.toLong)
          }
        }
        .toDF("doc_id", "n_matched_grams")
        .withColumn("contaminated", col("n_matched_grams") > 0)
    } else {
      val filter = benchGramDf.stat.bloomFilter("g", math.max(nGrams, 1L), 0.01)
      val bc = spark.sparkContext.broadcast(filter)
      val cand = docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val f = bc.value
          val seen = scala.collection.mutable.HashSet.empty[String]
          grams(text).foreach(g => if (f.mightContainString(g)) seen.add(g))
          seen.iterator.map(g => (id, g))
        }.toDF("doc_id", "g")
      val hits = cand.join(benchGramDf, Seq("g"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_matched_grams"))
      docs.select(col("doc_id").cast("long").as("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_matched_grams"), lit(0L)).as("n_matched_grams"))
        .withColumn("contaminated", col("n_matched_grams") > 0)
    }
  }

  /** PII scrubbing for web corpora: redact emails and phone-shaped digit
    * runs (the standard pre-training cleanup pass). Pure codegen
    * `regexp_replace`/`regexp_extract_all` — the patterns use only
    * character classes, quantifiers and word boundaries, portable across
    * Java regex and RE2. Emits per-doc redaction counts alongside the
    * scrubbed text so the quarantine accounting is queryable (north-rule
    * style: nothing silently dropped). */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // counts are REPLACEMENT counts, not raw pattern occurrences: phones are
    // counted on the email-scrubbed intermediate, exactly the text the phone
    // replacement runs on. Counting both on the raw text diverges when the
    // patterns overlap (a phone-shaped run inside an email local part like
    // 123-456-7890@x.com would report n_phones=1 with no phone replaced).
    val emailScrubbed = regexp_replace(col(textCol), EmailPattern, "<EMAIL>")
    val emails = size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0)))
    val phones = size(regexp_extract_all(emailScrubbed, lit(PhonePattern), lit(0)))
    val scrubbed = regexp_replace(emailScrubbed, PhonePattern, "<PHONE>")
    docs.withColumn("n_emails", emails)
      .withColumn("n_phones", phones)
      .withColumn(textCol, scrubbed)
  }

  /** URL canonicalization for web-corpus dedup (the Common-Crawl first
    * pass: the same page crawled under `HTTPS://Host:443/p?utm_source=…#x`
    * and `https://host/p` must collapse). Rules: lowercase scheme+host,
    * drop the scheme's default port, drop the fragment, drop tracking
    * params (utm_*, fbclid, gclid), sort surviving params, empty path → /.
    * Real java.net.URI parsing — the driver oracle predicts the canonical
    * string analytically from the synth formula, so a broken parse or rule
    * cannot hash-match. */
  def canonicalizeUrl(raw: String): String = {
    val u = new java.net.URI(raw.trim)
    val scheme = u.getScheme.toLowerCase
    val host = u.getHost.toLowerCase
    val defaultPort = scheme match { case "http" => 80; case "https" => 443; case _ => -1 }
    val portPart = if (u.getPort == -1 || u.getPort == defaultPort) "" else s":${u.getPort}"
    val path = if (u.getPath == null || u.getPath.isEmpty) "/" else u.getPath
    val params = Option(u.getQuery).map(_.split("&").toSeq).getOrElse(Seq.empty)
      .filter { p =>
        val k = p.takeWhile(_ != '=').toLowerCase
        !(k.startsWith("utm_") || k == "fbclid" || k == "gclid")
      }.sorted
    val q = if (params.isEmpty) "" else params.mkString("?", "&", "")
    s"$scheme://$host$portPart$path$q"
  }

  /** Canonical-URL dedup over a (doc_id, url) table: one row per canonical
    * URL with its crawl count and min-doc_id keeper. The canonicalize map
    * is the only non-codegen step (URI parsing); the groupBy partial-
    * aggregates map-side, so the shuffle carries one row per DISTINCT
    * canonical URL per partition — the 100-TB shape. */
  def urlDedup(urls: DataFrame): DataFrame = {
    import urls.sparkSession.implicits._
    urls.select(col("doc_id").cast("long"), col("url"))
      .as[(Long, String)]
      .map { case (id, u) => (id, canonicalizeUrl(u)) }
      .toDF("doc_id", "canonical_url")
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper_id"))
  }

  /** Chunk-level exact dedup (the paragraph/line pass of Lee et al. 2021
    * §4.1 at fixed-width granularity): split each document into
    * consecutive `chunk`-token spans, keep the globally FIRST occurrence
    * of each distinct span (order = (doc_id, chunk_idx)), and report per
    * document how many spans were boilerplate. Only (doc_id, idx, n_tok,
    * 60-bit md5) rows ever shuffle — never chunk text — so the exchange
    * is a fixed ~32 bytes/chunk at any corpus size.
    *
    * Keep-first is a min-struct aggregation per hash + a co-partitioned
    * join back, NOT a row_number window per hash: the min PARTIAL-
    * aggregates map-side (a boilerplate span in billions of docs costs
    * one partial row per map task), and the join probe streams — whereas
    * WindowExec would buffer the hot hash's ENTIRE group in one task's
    * memory before sorting it, the degenerate-corpus OOM the dedup DF
    * caps exist to prevent. The two forms are output-identical (keeper =
    * min (doc_id, chunk_idx) either way; pinned by PipelineOpsSpec and
    * the oracle). */
  def chunkDedup(docs: DataFrame, chunk: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val chunks = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        t.grouped(chunk).zipWithIndex.map { case (c, i) =>
          (id, i.toLong, c.length.toLong, c.mkString(" "))
        }
      }
      .toDF("doc_id", "chunk_idx", "n_tok", "chunk")
      .select(col("doc_id"), col("chunk_idx"), col("n_tok"),
        fingerprintCol(col("chunk")).as("h"))
    val keepers = chunks.groupBy("h")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keeper"))
    chunks.join(keepers, Seq("h"))
      .withColumn("dup",
        struct(col("doc_id"), col("chunk_idx")) =!= col("keeper"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("dup"), 0L).otherwise(col("n_tok"))).as("n_tokens_kept"))
  }

  /** Content-defined chunking dedup (the rsync/LBFS boundary idea applied
    * to token streams — FastCDC's ancestor): a chunk ends after token i
    * (i ≥ 2) iff the rolling 3-token window hash satisfies
    * h60 % `mask` == 0, so boundaries are a function of CONTENT, not
    * position. Unlike [[chunkDedup]]'s fixed-width grid, an insertion or
    * deletion shifts only the chunks it touches — boundaries resynchronize
    * within ~mask tokens — which is what makes chunk-level dedup robust to
    * the small edits boilerplate actually carries (TextOpsSpec measures
    * it: a one-token prepend kills every fixed-width chunk match but
    * preserves most CDC chunk matches). Expected chunk length = mask
    * tokens (no min/max clamps: the boundary rule stays a pure per-
    * position predicate, which keeps the oracle a window-sum instead of a
    * stateful scan).
    *
    * Scale shape: boundary detection and chunk assembly are per-doc local
    * work inside one typed flatMap (zero shuffle); only (doc_id,
    * chunk_idx, n_tok, h60) rows reach the keeper aggregation — the
    * [[chunkDedup]] exchange discipline. Keep-first = min (doc_id,
    * chunk_idx) struct per hash, hot-chunk safe (no window over the
    * corpus). Output: (doc_id, n_chunks, n_dup_chunks, n_tokens_kept). */
  def cdcChunkDedup(docs: DataFrame, mask: Long = 8L): DataFrame = {
    import docs.sparkSession.implicits._
    val chunks = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
        val cur = scala.collection.mutable.ArrayBuffer.empty[String]
        var cidx = 0L
        var j = 0
        while (j < t.length) {
          cur += t(j)
          val flag = j >= 2 &&
            h60Jvm(t(j - 2) + " " + t(j - 1) + " " + t(j)) % mask == 0
          if (flag) {
            out += ((id, cidx, cur.length.toLong, cur.mkString(" ")))
            cur.clear()
            cidx += 1
          }
          j += 1
        }
        if (cur.nonEmpty) out += ((id, cidx, cur.length.toLong, cur.mkString(" ")))
        out.iterator
      }
      .toDF("doc_id", "chunk_idx", "n_tok", "chunk")
      .select(col("doc_id"), col("chunk_idx"), col("n_tok"),
        fingerprintCol(col("chunk")).as("h"))
    val keepers = chunks.groupBy("h")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keeper"))
    chunks.join(keepers, Seq("h"))
      .withColumn("dup",
        struct(col("doc_id"), col("chunk_idx")) =!= col("keeper"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("dup"), 0L).otherwise(col("n_tok"))).as("n_tokens_kept"))
  }

  /** Corpus drift monitor: chi-square divergence of each source's hashed
    * token-bucket distribution against the corpus-global one — the
    * snapshot-over-snapshot distribution-shift check a crawl pipeline
    * runs before mixing a new source in (the PSI/KL family; chi-square is
    * the log-free member, which is what keeps the cross-engine gate an
    * exact hash match).
    *
    *   drift_u(s) = Σ_b floor( ((p_sb − p_gb)² / (p_gb + 1e-9)) · 1e6 )
    *
    * with p from integer counts (count/total division of ints < 2⁵³ is
    * one correctly-rounded IEEE op — identical everywhere), per-bucket
    * values floored BEFORE the sum, and the bucket grid DENSE (a source
    * missing bucket b still pays its (0 − p_gb)² term — the grid is
    * |sources| × nBuckets rows from a deliberate tiny cross join, never
    * corpus-sized).
    *
    * Scale shape: ONE map-side-combined (source, bucket) count over the
    * exploded tokens (output ≤ |sources|·nBuckets rows), a broadcast of
    * the nBuckets-row global table, zero further corpus passes.
    * Output: (source, n_tokens, drift_u). The (source, bucket) count
    * frame is cached: the global histogram, per-source totals and the
    * grid join all read it. */
  def tokenDrift(docs: DataFrame, nBuckets: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    val tok = docs.select(col("source"),
      explode(split(col("text"), " ")).as("tok"))
    val sb = Owned.persist(tok.select(col("source"),
        pmod(fingerprintCol(col("tok")), lit(nBuckets.toLong)).as("bucket"))
      .groupBy("source", "bucket").agg(count(lit(1)).as("n_sb")))
    val g = sb.groupBy("bucket").agg(sum("n_sb").as("n_gb"))
    val totals = sb.groupBy("source").agg(sum("n_sb").as("n_s"))
    val gTotal = g.agg(sum("n_gb").as("n_g"))
    // dense |sources| × nBuckets grid: a deliberate tiny cross join (the
    // nested-loop is over dimension tables, never the corpus)
    val grid = totals.crossJoin(
      spark.range(nBuckets).select(col("id").as("bucket")))
    val ps = col("n_sb_f").cast("double") / col("n_s")
    val pg = col("n_gb_f").cast("double") / col("n_g")
    val term = floor((ps - pg) * (ps - pg) / (pg + lit(1.0e-9)) * lit(1000000.0))
      .cast("long")
    grid
      .join(sb, Seq("source", "bucket"), "left")
      .join(broadcast(g), Seq("bucket"), "left")
      .crossJoin(broadcast(gTotal))
      .withColumn("n_sb_f", coalesce(col("n_sb"), lit(0L)))
      .withColumn("n_gb_f", coalesce(col("n_gb"), lit(0L)))
      .groupBy("source")
      .agg(max("n_s").as("n_tokens"), sum(term).as("drift_u"))
      .select(col("source"), col("n_tokens"), col("drift_u"))
  }

  /** Weighted sampling without replacement — priority sampling (Duffield,
    * Lund & Thorup 2007), derandomized: each doc draws u from its salted
    * DOC_ID hash (u ∈ [1, 2³⁰], never 0 — selection is therefore
    * id-stable, not content-stable: the same text re-ingested under a new
    * doc_id draws a fresh u; hash the text instead if re-ingestion
    * stability is what a caller needs) and gets priority w/u with
    * w = its token count; the k highest priorities per source are the
    * sample. Inclusion probability grows ∝ w (a doc twice as long is
    * ~twice as likely in), which is the curation use: sample documents
    * proportional to their token mass instead of uniformly. Deterministic
    * and append-stable like [[stratifiedSample]] — no RNG, identical
    * sample on any engine (u and w are integers < 2³¹, so the one double
    * division is the same correctly-rounded IEEE value everywhere; ties
    * break by doc_id).
    *
    * Scale shape: u, w, and the priority are one codegen scan; the only
    * shuffle is the per-source top-k window. The window's per-source
    * partition is the operator's documented caveat (same as
    * [[Search.bm25TopK]]'s per-qid window): corpora with few giant
    * sources want the kNN-style salted two-level top-k.
    * Output: (doc_id, source, n_tokens, rank), rank ≤ k. */
  def prioritySample(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => WExpr}
    val base = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("u",
        pmod(fingerprintCol(concat(col("doc_id").cast("string"), lit(":wsample"))),
          lit(1073741824L)) + 1)
      .withColumn("pri", col("n_tokens").cast("double") / col("u"))
    val w = WExpr.partitionBy(col("source")).orderBy(col("pri").desc, col("doc_id"))
    base.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("doc_id", "source", "n_tokens", "rank")
  }

  /** Deterministic per-language stratified sampling (the corpus-mixing
    * pass: downweight the over-represented language instead of random
    * sampling): keep a doc iff its salted md5 bucket (0..9999) falls under
    * the language's rate. Pure codegen scan filter — ZERO shuffle, and the
    * selection is reproducible across runs, partitionings, and engines
    * (no RNG; rerunning on a grown corpus keeps every previously kept
    * doc, so downstream shards are append-only). */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Double],
      defaultRate: Double): DataFrame = {
    val bucket = pmod(
      fingerprintCol(concat(col("doc_id").cast("string"), lit(":strat"))),
      lit(10000L))
    // thresholds resolved to integer literals on the DRIVER so the filter
    // compares long < long in every engine (no float math in the plan)
    val thr = rates.foldLeft(lit((defaultRate * 10000).round)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit((r * 10000).round)).otherwise(acc)
    }
    docs.where(bucket < thr)
      .select(col("doc_id"), col("lang"), col("source"), bucket.as("bucket"))
  }

  /** DSIR-style importance score (Xie et al. 2023, Data Selection for LMs
    * via Importance Resampling — hashed n-gram features): build a bucketed
    * bigram histogram over a small in-domain TARGET slice, then score
    * every raw doc by the summed target mass of its own bigram buckets.
    * The target histogram is `buckets` rows by construction — collected
    * once and BROADCAST — so the corpus side is one typed mapPartitions
    * pass with zero shuffle at any scale (the decontaminate shape).
    * Bucket hash is the engine-portable 60-bit md5, computed identically
    * in the JVM ([[h60Jvm]]) and in the oracle's SQL. Integer score so the
    * hash gate is engine-exact (true DSIR divides by the raw histogram and
    * exponentiates; the integer numerator is the engine-side work). */
  def dsirScore(docs: DataFrame, isTarget: Column, buckets: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def bigrams(text: String): Iterator[String] = {
      val t = text.split(" ", -1)
      if (t.length < 2) Iterator.empty
      else (0 until t.length - 1).iterator.map(i => t(i) + " " + t(i + 1))
    }
    val targetHist = docs.where(isTarget).select(col("text")).as[String]
      .flatMap(bigrams(_)).toDF("bg")
      .select(pmod(fingerprintCol(col("bg")), lit(buckets.toLong)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val bc = spark.sparkContext.broadcast(
      Array.tabulate(buckets)(i => targetHist.getOrElse(i, 0L)))
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val hist = bc.value
        it.map { case (id, text) =>
          var n = 0L; var score = 0L
          bigrams(text).foreach { bg =>
            n += 1; score += hist((h60Jvm(bg) % buckets).toInt)
          }
          (id, n, score)
        }
      }
      .toDF("doc_id", "n_bigrams", "dsir_score")
  }

  /** Unigram-LM perplexity filter (the CCNet stage, Wenzek et al. 2020 —
    * the generative complement to the discriminative [[modelQuality]]
    * classifier): train a hashed-unigram language model on an in-domain
    * slice, then score every document by its MEAN TOKEN SURPRISAL — high
    * surprisal = out-of-domain / junk, the canonical perplexity filter.
    *
    * Determinism: the pipeline is INTEGER end-to-end. The Laplace-smoothed
    * token probability is the rational (cnt+1)/(total+buckets), and
    * per-token surprisal floor(log2((total+buckets)/(cnt+1))) is computed
    * EXACTLY as bitlen(a div b) − 1: for a ≥ b ≥ 1,
    * ⌊a/b⌋ ≥ 2^k ⟺ a ≥ b·2^k and ⌊a/b⌋ < 2^(k+1) ⟺ a/b < 2^(k+1), so the
    * integer quotient's bit length IS ⌊log2(a/b)⌋ + 1. No floating log
    * anywhere (ln/log2 are not bit-stable across runtimes — the same
    * reason [[tokenDrift]] is chi-square, not KL), so the cross-engine
    * hash gate is exact; the oracle's twin is length(bin(a // b)) − 1.
    * The emitted score is integer micro-bits: (Σ bits · 1e6) div n_tokens.
    *
    * Scale shape: train = ONE map-side-combined groupBy over the hashed
    * token buckets of the in-domain slice — ≤ `buckets` rows, collected
    * and broadcast (the DSIR/codebook discipline); score = one typed
    * mapPartitions pass with ZERO shuffle at any corpus size. */
  def lmPerplexity(docs: DataFrame, isInDomain: Column,
                   buckets: Int = 4096): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hist = docs.where(isInDomain).select(col("text")).as[String]
      .flatMap(_.split(" ", -1).iterator)
      .toDF("t")
      .select(pmod(fingerprintCol(col("t")), lit(buckets.toLong)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val arr = Array.tabulate(buckets)(i => hist.getOrElse(i, 0L))
    val num = arr.sum + buckets // Laplace numerator: total + V
    val bc = spark.sparkContext.broadcast(arr)
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val h = bc.value
        it.map { case (id, text) =>
          val t = text.split(" ", -1)
          var bits = 0L
          var i = 0
          while (i < t.length) {
            val cnt = h((h60Jvm(t(i)) % buckets).toInt)
            val q = num / (cnt + 1L) // ≥ 1 since cnt ≤ total < num
            bits += 63 - java.lang.Long.numberOfLeadingZeros(q)
            i += 1
          }
          // split(" ", -1) of "" is [""] — t.length ≥ 1, division is safe
          (id, t.length.toLong, bits, bits * 1000000L / t.length)
        }
      }
      .toDF("doc_id", "n_tokens", "sum_bits", "mean_bits_u")
  }

  /** First-iteration BPE merge statistics (tokenizer induction: the
    * pair-frequency table the first byte-pair merge is chosen from):
    * count adjacent character pairs within each whitespace word across
    * the corpus, exact top-k. The flatMap emits O(chars) pair rows but
    * the groupBy partial-aggregates them map-side to the pair-alphabet
    * cardinality (≤ alphabet², thousands) before any exchange — at
    * 100 TB the shuffle carries per-task alphabet histograms, not
    * corpus-sized pair streams. Deterministic tie cut by pair. */
  def bpePairCounts(docs: DataFrame, k: Int = 50): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("text")).as[String]
      .flatMap { text =>
        text.split(" ", -1).iterator.flatMap { w =>
          // pairs over CODE POINTS, not UTF-16 code units — an astral char
          // (emoji, rare CJK) must pair whole, matching the oracle's
          // character-based substring; code-unit slicing would emit half a
          // surrogate pair and break engine exactness off-BMP
          val cps = w.codePoints().toArray
          if (cps.length < 2) Iterator.empty
          else (0 until cps.length - 1).iterator.map(i => new String(cps, i, 2))
        }
      }
      .toDF("pair")
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** Per-document n-gram novelty: how much of a doc's content exists
    * nowhere else in the corpus — n_grams = the doc's DISTINCT token
    * n-grams, n_unique = those appearing in no other document (global
    * document frequency 1). High-novelty docs carry information the rest
    * of the corpus lacks; low novelty flags templated/boilerplate content
    * the dedup family might miss below its thresholds.
    *
    * Scale shape: the corpus becomes (doc_id, h60) rows — per-doc distinct
    * INSIDE the flatMap (the substringDedup contract), so the exchange
    * carries 16-byte hash rows, never n-gram strings (the gopher-bigram
    * lesson); df is a map-side-combined count over the same persisted
    * frame, and the join back is co-partitioned on the hash. Docs with
    * fewer than n tokens emit nothing and are absent from the output (the
    * oracle mirrors this). */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    import docs.sparkSession.implicits._
    val rows = Owned.persist(docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = if (text == null) Array.empty[String] else text.split(" ", -1)
        if (t.length < n) Iterator.empty
        else {
          val seen = scala.collection.mutable.HashSet.empty[Long]
          var i = 0
          while (i <= t.length - n) {
            seen += h60Jvm(t.slice(i, i + n).mkString(" ")); i += 1
          }
          seen.iterator.map(h => (id, h))
        }
      }.toDF("doc_id", "h"))
    val dfreq = rows.groupBy("h").agg(count(lit(1)).as("df"))
    rows.join(dfreq, Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
  }

  /** Token-budget mixture sampling (the SlimPajama/DoReMi-style mixing
    * step): take ≈`budget(source)` TOKENS from each source, selecting docs
    * by a salted hash so the sample is deterministic and unbiased by corpus
    * order. A doc's bucket never changes, but unlike [[stratifiedSample]]
    * (fixed rates) the CUTOFF adapts to corpus growth: a fixed token budget
    * over a bigger corpus selects a smaller hash prefix.
    *
    * Scale shape: selection is a hash-bucket PREFIX, not a per-doc running
    * sum — docs land in `buckets` salted buckets, per-(source, bucket)
    * token mass is one map-side-combined aggregation bounded by
    * |sources|·buckets rows, and the cutoff bucket per source comes from a
    * window over that already-aggregated table (≤ `buckets` rows per
    * partition REGARDLESS of corpus size — never a corpus-sized window).
    * The budget is met at bucket granularity: the cutoff is the first
    * bucket whose cumulative mass reaches the budget (all docs if the
    * source has fewer tokens than its budget), so selected mass overshoots
    * by at most one bucket (~1/buckets of the source — tighten with more
    * buckets). Output: selected (doc_id, source, bucket, n_tokens). */
  def tokenBudgetMix(docs: DataFrame, budgets: Map[String, Long],
      defaultBudget: Long, buckets: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => WExpr}
    val bucket = pmod(
      fingerprintCol(concat(col("doc_id").cast("string"), lit(":mix"))),
      lit(buckets.toLong))
    val base = docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      bucket.as("bucket"))
    val mass = base.groupBy("source", "bucket").agg(sum("n_tokens").as("btoks"))
    val budgetCol = budgets.foldLeft(lit(defaultBudget)) { case (acc, (s, v)) =>
      when(col("source") === s, lit(v)).otherwise(acc)
    }
    val wcum = WExpr.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(WExpr.unboundedPreceding, WExpr.currentRow)
    val cutoff = mass
      .withColumn("cum", sum("btoks").over(wcum))
      .withColumn("budget", budgetCol)
      .groupBy("source").agg(
        min(when(col("cum") >= col("budget"), col("bucket"))).as("cut"),
        max(col("bucket")).as("maxb"))
      .select(col("source"), coalesce(col("cut"), col("maxb")).as("cut"))
    base.join(broadcast(cutoff), Seq("source"))
      .where(col("bucket") <= col("cut"))
      .select("doc_id", "source", "bucket", "n_tokens")
  }

  /** Stopword list shared by the heuristic quality score and the model
    * scorer's weak labels. */
  private val ModelStopwords: Set[String] =
    Set("the", "and", "a", "of", "to", "in", "over")

  /** Integer weak label for [[modelQuality]] — the [[qualityScore]]
    * heuristic in exact integer form (mean_token_len ≥ 2.0 ⟺ non-space
    * chars ≥ 2·n_tokens), counted in CODE POINTS (String.length counts
    * UTF-16 units; SQL length() counts code points, and they differ on
    * astral chars). */
  private[graft] def modelLabelPos(text: String): Boolean = {
    val toks = text.split(" ", -1)
    val nTokens = toks.length
    val noSpace = text.replace(" ", "")
    val nLetters = noSpace.codePointCount(0, noSpace.length)
    var nStop = 0
    toks.foreach(t => if (ModelStopwords.contains(t)) nStop += 1)
    nTokens >= 15 && nLetters >= 2 * nTokens && nStop * 20 >= nTokens
  }

  /** Model-based quality scoring (the CCNet/fastText curation stage:
    * a TRAINED linear classifier over hashed n-gram features, distilled
    * here from the heuristic's weak labels — exactly how production
    * quality classifiers are bootstrapped when no human labels exist):
    * w[h] = Σ_labeled y·count_h(doc) over hashed-bigram buckets, which is
    * the first full-batch gradient step of logistic loss from w = 0
    * (∇ at 0 ∝ Σ y·x) — and, unlike later steps, needs no sigmoid, so
    * training stays INTEGER-exact and the cross-engine gate is a hash
    * match, not a float truce. score(doc) = Σ w[h(bigram)] over the doc's
    * bigram occurrences.
    *
    * Scale shape: training is ONE map-side-combined aggregation over the
    * deterministic labeled slice (doc_id % labelMod = 0) whose output is
    * ≤ nBuckets rows — collected like a codebook; scoring is a
    * zero-shuffle typed map with the weight array riding the closure
    * (the [[bpeEncode]]/[[dsirScores]] layout: parquet-scan speed at
    * 100 TB, full column pruning). Generalization (held-out junk ranking
    * below held-out clean) is pinned by TextOpsSpec.
    *
    * Output: (doc_id, score, model_ok) — score an exact integer,
    * model_ok = score ≥ 0. */
  def modelQuality(docs: DataFrame, nBuckets: Int = 4096,
                   labelMod: Long = 5L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nBuckets > 0)
    val wRows = docs.where(col("doc_id") % labelMod === 0)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (_, text) =>
        val y = if (modelLabelPos(text)) 1L else -1L
        val t = text.split(" ", -1)
        (0 until t.length - 1).iterator.map { i =>
          (h60Jvm(t(i) + " " + t(i + 1)) % nBuckets, y)
        }
      })
      .toDF("h", "y")
      .groupBy("h").agg(sum("y").as("w"))
      .collect() // bounded by nBuckets — the codebook discipline
    val w = new Array[Long](nBuckets)
    wRows.foreach(r => w(r.getLong(0).toInt) = r.getLong(1))
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val t = text.split(" ", -1)
          var s = 0L
          var i = 0
          while (i < t.length - 1) {
            s += w((h60Jvm(t(i) + " " + t(i + 1)) % nBuckets).toInt)
            i += 1
          }
          (id, s, s >= 0L)
        }
      }.toDF("doc_id", "score", "model_ok")
  }

  /** Word-table ceiling for [[bpeTrain]]'s single-task fast path. 1M
    * distinct word forms × (symbol array + freq) is a few hundred MB in
    * one task — comfortably under executor memory — while covering every
    * corpus whose vocabulary a tokenizer trainer would realistically see
    * (web-corpus word tables are ~10M forms; those take the distributed
    * loop). */
  val LocalBpeWordLimit = 1000000L

  /** One left-to-right non-overlapping merge pass (a symbol minted this
    * round never re-matches this round) — shared by both training paths
    * and mirrored by the oracle's bracketed-string replace. */
  private def mergeLtr(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** UTF-8 byte-wise unsigned less-than — the UTF8String binary order
    * Spark's string orderBy applies, which differs from String.compareTo
    * (UTF-16 code units) for supplementary characters. The local trainer
    * must break count ties in exactly the engine's order. */
  private def byteLess(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** The whole merge induction over one task's word table — the identical
    * count → argmax (n desc, then byte-lex (lhs, rhs)) → LTR rewrite loop
    * the distributed path runs as Spark jobs. */
  private def trainLocal(it: Iterator[(Seq[String], Long)],
                         nMerges: Int): Iterator[(Int, String, String, Long)] = {
    var words = it.toArray
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // total-order argmax — hash iteration order cannot leak into the
        // result
        var bl: String = null; var br: String = null; var bn = Long.MinValue
        counts.foreach { case ((l, r), n) =>
          val better = n > bn || (n == bn &&
            (byteLess(l, bl) || (l == bl && byteLess(r, br))))
          if (better) { bl = l; br = r; bn = n }
        }
        merges += ((rank, bl, br, bn))
        words = words.map { case (syms, f) => (mergeLtr(syms, bl, br), f) }
        rank += 1
      }
    }
    merges.iterator
  }

  /** BPE tokenizer TRAINING (Sennrich et al. 2016 merge induction): learn
    * the ordered merges table itself — each round counts adjacent symbol
    * pairs across the corpus, merges the most frequent (ties: lexicographic
    * (lhs, rhs)), rewrites, repeats. Unlike [[bpePairCounts]] (first-round
    * statistics only), later rounds count pairs involving PRODUCTS of
    * earlier merges — real induction.
    *
    * Scale shape — the standard distributed tokenizer-trainer layout
    * (HF tokenizers / SentencePiece do the same single-node): the working
    * state is the WORD-FREQUENCY table, not the corpus — one corpus scan
    * builds (word, freq), and every round after that is a flatMap over the
    * vocabulary-sized table plus a pair-alphabet-bounded map-side-combined
    * aggregation and a single-row argmax collect. Per-round cost is
    * independent of corpus size; lineage is truncated each round with an
    * eager localCheckpoint (the CC-loop discipline).
    *
    * Rewrite rule: left-to-right non-overlapping within each word, and a
    * symbol minted this round never re-matches this round — exactly the
    * bracketed-string `replace` the DuckDB oracle replays.
    * Output: (rank, lhs, rhs, n) — n is the pair's count at merge time.
    *
    * HYBRID (the [[Dedup.connectedComponents]] fast-path discipline): the
    * working state is the word-frequency table — vocabulary-sized, ≪
    * corpus — and the distributed loop's per-round cost is pure scheduler
    * fixed cost once that table fits one task: a real 50k-merge vocab
    * means 50k sequential Spark jobs. A word table measured at or under
    * [[LocalBpeWordLimit]] rows (the `bpe.oneTask` gate) therefore trains
    * in ONE task
    * (repartition(1) + the identical count→argmax→rewrite induction,
    * byte-lexicographic ties — the UTF8String binary order Spark's
    * orderBy uses); larger tables keep the distributed loop.
    * BpeTrainSpec pins fast == distributed on planted corpora. */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    // ≤ nMerges rows — the merges are driver values on both paths, so the
    // scope frees every word table before the result is built
    val merges = Owned.scope {
      var words = Owned.checkpoint(docs
        .select(explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("f"))
        .as[(String, Long)]
        .map { case (w, f) =>
          // code points, not UTF-16 units (see bpePairCounts)
          val cps = w.codePoints().toArray
          (cps.map(cp => new String(Character.toChars(cp))).toSeq, f)
        })

      // the checkpoint above materialized the table, so this count is a
      // cached-block scan, not a recompute
      if (Gate("bpe.oneTask", LocalBpeWordLimit)(words.count()))
        words.repartition(1).mapPartitions(it => trainLocal(it, nMerges)).collect().toSeq
      else {
        val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
        var rank = 1
        var exhausted = false
        while (rank <= nMerges && !exhausted) {
          val top = words.flatMap { case (syms, f) =>
            (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1), f))
          }.toDF("lhs", "rhs", "f")
            .groupBy("lhs", "rhs").agg(sum("f").as("n"))
            .orderBy(col("n").desc, col("lhs"), col("rhs"))
            .limit(1).collect()
          if (top.isEmpty) exhausted = true // every word fully merged
          else {
            val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
            learned += ((rank, l, r, n))
            val next = Owned.checkpoint(words.map { case (syms, f) => (mergeLtr(syms, l, r), f) })
            Owned.release(words)
            words = next
            rank += 1
          }
        }
        learned.toSeq
      }
    }
    merges.toDF("rank", "lhs", "rhs", "n")
  }

  /** BPE tokenizer APPLICATION: encode every document into subword tokens
    * with a fixed ordered merges table — the step between tokenizer
    * induction ([[bpePairCounts]]) and sequence packing that turns text
    * into the token stream a training run actually consumes.
    *
    * Semantics (Sennrich et al. 2016 apply-merges-in-rank-order): per
    * whitespace word, symbols start as single code points; merges apply in
    * rank order, each merging its adjacent (x, y) occurrences
    * left-to-right non-overlapping. The implementation is the standard
    * min-rank-first loop (repeatedly merge the lowest-rank pair present,
    * found via an O(1) pair→rank map) — equivalent to apply-in-order for
    * any WELL-FORMED merges table (one whose components are base symbols
    * or products of strictly earlier merges: true of every learned table,
    * and what TextOpsSpec fuzz-pins against a naive apply-in-order twin).
    * Cost per word is O(len · merges-applied), independent of vocabulary
    * size — a 50k-merge vocab costs the same as 30.
    *
    * Scale shape: a zero-shuffle typed map over the corpus — the merges
    * table (vocab-bounded, ≤~100k pairs) rides the task closure; at
    * 100 TB this runs at parquet-scan speed with full column pruning,
    * like [[dsirScores]]. Output: (doc_id, n_tokens, tokens) with tokens
    * space-joined (symbols never contain spaces — words are split on
    * them). */
  def bpeEncode(docs: DataFrame, merges: IndexedSeq[(String, String)]): DataFrame = {
    import docs.sparkSession.implicits._
    val rank: Map[(String, String), Int] = merges.zipWithIndex.toMap
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val out = new StringBuilder
          var n = 0L
          text.split(" ", -1).foreach { w =>
            if (w.nonEmpty) {
              // code points, not UTF-16 units — astral chars are one symbol
              var syms: Array[String] =
                w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
              var continue = syms.length > 1
              while (continue) {
                var best = Int.MaxValue
                var i = 0
                while (i < syms.length - 1) {
                  val rk = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
                  if (rk < best) best = rk
                  i += 1
                }
                if (best == Int.MaxValue) continue = false
                else {
                  val (x, y) = merges(best)
                  val res = scala.collection.mutable.ArrayBuffer.empty[String]
                  var j = 0
                  while (j < syms.length) {
                    if (j + 1 < syms.length && syms(j) == x && syms(j + 1) == y) {
                      res += x + y; j += 2
                    } else { res += syms(j); j += 1 }
                  }
                  syms = res.toArray
                  continue = syms.length > 1
                }
              }
              syms.foreach { s =>
                if (out.nonEmpty) out += ' '
                out ++= s
                n += 1
              }
            }
          }
          (id, n, out.toString)
        }
      }
      .toDF("doc_id", "n_tokens", "tokens")
  }

  /** Exact corpus length percentiles (the sequence-length planning stats
    * a packing/batching config is tuned from) WITHOUT a distributed sort:
    * token counts have bounded cardinality (a length histogram, not a
    * value set), so one map-side-combined groupBy collapses 100 TB to a
    * few thousand (length, count) rows, the driver accumulates the CDF,
    * and the numpy-linear order statistic is interpolated analytically —
    * the [[graft.core.RasterMath]] percentile rule over a histogram
    * instead of a sorted array. Exact, not approxQuantile. */
  def lengthPercentiles(docs: DataFrame, ps: Seq[Double] = Seq(0.1, 0.5, 0.9, 0.99)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hist = docs.select(size(tokens(col("text"))).cast("long").as("len"))
      .groupBy("len").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    if (hist.isEmpty)
      return spark.createDataset(Seq.empty[(Double, Long)]).toDF("p", "len_fp")
    val n = hist.map(_._2).sum
    // value at fractional rank h = (n-1)·p, linear between the two
    // bracketing order statistics (numpy 'linear', the rescale_percentiles
    // rule) — located by walking the CDF, never materializing n values
    def at(rank: Long): Double = {
      var acc = 0L
      var i = 0
      while (i < hist.length) {
        acc += hist(i)._2
        if (rank < acc) return hist(i)._1.toDouble
        i += 1
      }
      hist.last._1.toDouble
    }
    val rows = ps.map { p =>
      val h = (n - 1).toDouble * p
      val lo = math.floor(h).toLong
      val hi = math.ceil(h).toLong
      val v = at(lo) + (h - lo) * (at(hi) - at(lo))
      (p, math.floor(v * 1000000.0).toLong)
    }
    spark.createDataset(rows).toDF("p", "len_fp")
  }

  /** Per-thread MD5 instance for [[h60Jvm]]: `MessageDigest.getInstance`
    * does a provider lookup + allocation per call, and the old per-call
    * form sat in per-TOKEN hot loops (dsir/lm-perplexity/novelty score
    * millions of tokens per task). `digest()` resets the instance, so
    * reuse is safe. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** JVM twin of [[fingerprintCol]]: md5 → first 15 hex chars → long.
    * Must stay bit-identical to the column form — pinned by TextOpsSpec.
    * The first 15 hex chars of the digest ARE the top 60 bits of the
    * big-endian first-8-byte value, so the value is assembled directly
    * from the bytes (the old form built a formatted hex string per call
    * and re-parsed it — measured as the dominant per-token cost of the
    * scoring passes, guide §1.2 step 2). */
  private[graft] def h60Jvm(s: String): Long = {
    val d = md5Local.get().digest(s.getBytes("UTF-8"))
    val v = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    v >>> 4
  }

  /** Cross-document substring-overlap detection (the ExactSubstr idea of
    * Lee et al. 2021 §4.1 at rolling-window granularity, corpus×corpus
    * where [[decontaminate]]'s identical machinery is corpus×eval-set):
    * flag every document sharing ANY `window`-token span with a DIFFERENT
    * document. Windows slide at stride 1, so a shared span at any token
    * offset is caught — the property fixed-width chunking misses.
    *
    * Scale shape: windows are distinct-ed INSIDE the per-doc flatMap (a
    * doc's own repetition never reaches the shuffle — that's
    * [[intraDocDedup]]'s job), so at most one (doc_id, 60-bit hash) row
    * per distinct span per doc is exchanged — O(corpus tokens) rows of
    * ~16 bytes, the same linear bound as the shingle tables. Cross-doc
    * counts are one map-side-combined groupBy on the hash (a boilerplate
    * span shared by millions of docs partial-aggregates per map task —
    * never a single-task window), and the count join back is
    * co-partitioned on the same key. */
  def substringDedup(docs: DataFrame, window: Int = 8): DataFrame = {
    import docs.sparkSession.implicits._
    val wh = Owned.persist(docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        if (t.length < window) Iterator.empty
        else {
          val seen = scala.collection.mutable.HashSet.empty[String]
          (0 to t.length - window).iterator
            .map(i => t.slice(i, i + window).mkString(" "))
            .filter(seen.add)
            .map(s => (id, s))
        }
      }
      .toDF("doc_id", "sh")
      .select(col("doc_id"), fingerprintCol(col("sh")).as("h")))
    val shared = wh.groupBy("h").agg(count(lit(1)).as("nd"))
    val perDoc = wh.join(shared, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
    docs.select(col("doc_id").cast("long"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_shared"), lit(0L)) > 0, 1).otherwise(0)
          .cast("int").as("flagged"))
  }

  /** Corpus vocabulary report: exact top-k tokens by occurrence count with
    * document frequency — the Zipf-curve / tokenizer-health check every
    * corpus build runs. One explode + map-side-combined groupBy: the
    * shuffle carries (token, partial count) rows — vocabulary-sized, not
    * corpus-sized. The final top-k is Spark's TakeOrderedAndProject
    * (per-partition heaps + a k-row driver merge), never a global sort;
    * ties cut deterministically by token so the k-boundary is
    * engine-stable. */
  def tokenHistogram(docs: DataFrame, k: Int = 100): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occ"), countDistinct("doc_id").as("n_docs"))
      .orderBy(col("n_occ").desc, col("token"))
      .limit(k)

  /** Top-k salient terms per document by integer tf-idf — the keyword /
    * topic-tag enrichment pass a curation pipeline attaches before
    * clustering or mixture routing. idf = floor(log2(N / df)) computed
    * exactly via the bit-length identity (`length(bin(N div df)) - 1`,
    * the [[lmPerplexity]] trick), so scores are integers end-to-end and
    * the cross-engine gate stays an exact hash match — no floating log
    * anywhere. Ties cut by (score desc, term) in UTF-8 binary order,
    * which Spark's UTF8String and DuckDB's memcmp varchar order share.
    *
    * Scale shape: one exploded (doc_id, term) aggregation (map-side
    * combined inside the scan task), a vocabulary-sized df aggregation
    * hash-equi-joined back on term (both sides term-partitioned — the
    * exchange is reused), the 1-row corpus count attached as a broadcast
    * (the bm25 stats shape — a deliberate dimension-table cross join),
    * and a per-doc top-k window over doc-sized partitions. Shuffles are
    * bounded by distinct (doc, term) pairs; nothing collects to the
    * driver. */
  def tfidfKeywords(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => WExpr}
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfT, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * (length(bin(expr("n div df"))) - lit(1)).cast("long"))
    val w = WExpr.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("score"))
  }

  /** Within-document repetition removal (the intra-doc pass of Lee et al.
    * 2021 — self-repeated spans are the cheapest quality signal): dedupe
    * each document's OWN fixed-width token chunks, keeping the first
    * occurrence. Entirely row-local — a typed map with a per-doc seen-set,
    * ZERO shuffle at any corpus size (contrast [[chunkDedup]], whose
    * keep-first is corpus-global and must exchange chunk hashes). */
  def intraDocDedup(docs: DataFrame, chunk: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val seen = scala.collection.mutable.HashSet.empty[String]
        var n = 0L; var dup = 0L; var kept = 0L
        text.split(" ", -1).grouped(chunk).foreach { c =>
          n += 1
          if (seen.add(c.mkString(" "))) kept += c.length else dup += 1
        }
        (id, n, dup, kept)
      }
      .toDF("doc_id", "n_chunks", "n_dup_chunks", "n_tokens_kept")
  }

  /** Per-domain corpus report (the crawl-curation dashboard: which hosts
    * contribute volume vs quality): docs, token mass, quality-pass count
    * and distinct languages per `source`. Every signal is computed INLINE
    * in the scan projection — no self-join against qualityScore — so the
    * whole funnel is one map-side-combined groupBy whose shuffle carries
    * one partial row per (partition, domain). Thresholds are verbatim
    * [[qualityScore]]'s `quality_ok`. */
  def domainStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val stop = Seq("the", "and", "a", "of", "to", "in", "over")
    val base = docs.select(col("source"), col("lang"),
      length(col("text")).as("n_chars"),
      size(toks).as("n_tokens"),
      size(filter(toks, t => t.isin(stop.map(lit(_)): _*))).as("n_stopwords"),
      (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).as("n_spaces"))
      .withColumn("quality_ok",
        col("n_tokens") >= 15 &&
          (col("n_chars") - col("n_spaces")).cast("double") / col("n_tokens") >= 2.0 &&
          col("n_stopwords") * 20 >= col("n_tokens"))
    base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        sum(when(col("quality_ok"), 1L).otherwise(0L)).as("n_pass"),
        countDistinct("lang").as("n_langs"))
  }
}
