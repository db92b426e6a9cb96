package graft

/** Builders for the heavyweight DuckDB oracle queries: each reproduces an
  * operator's semantics independently in SQL (same fixture constants, same
  * IEEE expression trees — see QueryCatalog's determinism rules), so the
  * driver's hash compare is a genuine cross-engine check, not a golden.
  *
  * Conventions shared with the Scala side:
  *  - unsigned-64 arithmetic is carried as HUGEINT in [0, 2^64): DuckDB has
  *    no wrapping 64-bit ops, so mul-mod-2^64 runs on 32-bit limbs and xor
  *    round-trips through signed BIGINT;
  *  - pixel scanline / grid / window math uses the exact formulas of
  *    core.Rasterize / core.TileGrid with the lux1 fixture literals.
  *
  * Rule CTEs written once here for every oracle that repeats them: the h60
  * fingerprint, the quality gate, the split rule, chunk keep-first, MinHash
  * and simhash signatures, quarter-blocked Hamming pairs, Jaccard verify,
  * min-label components, the lux pixel table, IVF assign/probe, kNN ranking
  * and the prefix-bin summary.
  */
object OracleSql {

  // lux1 fixture constants (sources/Fixtures.scala)
  val W = 483; val H = 216
  val A = "8.983152795e-5"; val E = "-8.983152778e-5"
  val C = "5.979635689"; val F = "50.118985995"

  /** World bounds (minx, miny, maxx, maxy) of the two pixel-rectangle label
    * blobs (Fixtures.labelGeoms' rectangles), in the affine expression trees
    * the engine evaluates. */
  val blobBounds: Seq[(String, String, String, String)] = Seq(
    (s"($C + 100 * $A)", s"($F + 60 * ($E))", s"(($C + 128 * $A) + 32 * $A)", s"($F + 20 * ($E))"),
    (s"(($C + 256 * $A) + 44 * $A)", s"(($F + 88 * ($E)) + 112 * ($E))",
      s"(($C + 355 * $A) + 45 * $A)", s"(($F + 88 * ($E)) + 62 * ($E))"))

  // ---------------------------------------------------------------------
  // text-family rules
  // ---------------------------------------------------------------------

  /** The engine-portable 60-bit fingerprint of a SQL string expression:
    * md5 → first 15 hex chars → BIGINT. */
  def h60(e: String): String = s"CAST(('0x' || substring(md5($e), 1, 15)) AS BIGINT)"

  /** Stopwords of the heuristic quality gate. */
  val QualityStopwords = "('the','and','a','of','to','in','over')"

  /** Select items `toks`, `n_chars`, `n_spaces` over a `text` column: the
    * inputs of [[qualityOkSql]]. */
  val qualitySignalsSql: String =
    """string_split(text, ' ') AS toks,
      |  length(text) AS n_chars,
      |  length(text) - length(replace(text, ' ', '')) AS n_spaces""".stripMargin

  /** The heuristic quality gate over [[qualitySignalsSql]]: at least 15
    * tokens, a mean of at least 2.0 non-space chars per token, and
    * stopwords on at least 1/20 of the tokens. */
  val qualityOkSql: String =
    s"""(len(toks) >= 15 AND (n_chars - n_spaces) / len(toks)::DOUBLE >= 2.0
       |   AND len(list_filter(toks, x -> x IN $QualityStopwords)) * 20 >= len(toks))""".stripMargin

  /** Select items of the Gopher signals over `text` and its token list `l`. */
  val gopherSignalsSql: String =
    s"""len(l) AS n_words,
       |  length(replace(text, ' ', '')) AS n_letters,
       |  len(list_filter(l, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
       |  len(list_filter(l, x -> x IN ('the','be','to','of','and','that','have','with'))) AS n_stop,
       |  (length(text) - length(replace(text, '#', '')))
       |   + (length(text) - length(replace(text, '...', ''))) // 3 AS n_symbols,
       |  greatest(len(l) - 1, 0) AS n_bigrams,
       |  greatest(len(l) - 1, 0) - len(list_distinct(list_transform(list_filter(
       |    list_transform(list_zip(l, l[2:]), s -> s[1] || ' ' || s[2]),
       |    x -> x IS NOT NULL),
       |    x -> ${h60("x")}))) AS n_dup_bigrams""".stripMargin

  /** The Gopher pass rule over [[gopherSignalsSql]]'s columns. */
  val gopherOkSql: String =
    """(n_words >= 15 AND n_words <= 100000
      |  AND n_letters >= n_words * 3 AND n_letters <= n_words * 10
      |  AND n_symbols * 10 <= n_words
      |  AND n_alpha_words * 5 >= n_words * 4
      |  AND n_stop >= 1
      |  AND n_dup_bigrams * 5 <= n_bigrams)""".stripMargin

  /** The 80/10/10 train/val/test split of a document by its
    * h60(doc_id) mod 100 bucket. */
  val docSplitSql: String = {
    val bucket = s"${h60("CAST(doc_id AS VARCHAR)")} % 100"
    s"CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'val' ELSE 'test' END"
  }

  /** CTEs `d` (the documents with `prefix` planted before the text where
    * `cond` holds) and `t` (doc_id, toks). */
  def plantedTokensSql(cond: String, prefix: String): String =
    s"""d AS (SELECT doc_id,
       |  CASE WHEN $cond THEN '$prefix ' || text ELSE text END AS text
       | FROM documents),
       |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d)""".stripMargin

  /** CTEs `i` and `c`: t's tokens cut into consecutive `width`-token
    * chunks c(doc_id, ci, n_tok, chunk). */
  def fixedChunksSql(width: Int): String =
    s"""i AS (SELECT doc_id, toks,
       |  unnest(range(0, CAST(ceil(len(toks) / $width.0) AS BIGINT))) AS ci FROM t),
       |c AS (SELECT doc_id, ci,
       |  least(len(toks) - ci * $width, $width) AS n_tok,
       |  array_to_string(toks[ci * $width + 1 : ci * $width + $width], ' ') AS chunk FROM i)""".stripMargin

  /** Chunk keep-first over c(doc_id, ci, n_tok, chunk): a chunk is kept iff
    * it comes first in its `partition` group by `order`; per doc the chunk
    * count, the duplicate count and the kept tokens. */
  def chunkKeepFirstSql(partition: String, order: String): String =
    s"""r AS (SELECT doc_id, ci, n_tok,
       |  row_number() OVER (PARTITION BY $partition ORDER BY $order) AS rn
       | FROM c)
       |SELECT doc_id, count(*) AS n_chunks,
       | CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       | CAST(sum(CASE WHEN rn > 1 THEN 0 ELSE n_tok END) AS BIGINT) AS n_tokens_kept
       |FROM r GROUP BY 1""".stripMargin

  /** MinHash signature query over shingle rows sh(keys…, sh): mh_i = the
    * min over a group's shingles of h60(i || ':' || sh), i < nHashes. */
  def minhashSql(keys: Seq[String], nHashes: Int): String = {
    val mins = (0 until nHashes).map(i => s"min(${h60(s"'$i:' || sh")}) AS mh_$i").mkString(", ")
    s"SELECT ${keys.mkString(", ")}, $mins FROM sh GROUP BY ${keys.mkString(", ")}"
  }

  /** Exact Jaccard of candidate pairs cand(doc_a, doc_b) over shingle rows
    * sh(doc_id, sh): (doc_a, doc_b, jaccard_num, jaccard_den) at
    * num ≥ den · minJaccard. */
  def jaccardVerifySql(minJaccard: Double): String =
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       | SELECT c.doc_a, c.doc_b, count(*) AS n_common
       | FROM cand c
       | JOIN sh sa ON sa.doc_id = c.doc_a
       | JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
       | GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, i.n_common AS jaccard_num,
       | na.n + nb.n - i.n_common AS jaccard_den
       |FROM inter i
       |JOIN sizes na ON na.doc_id = i.doc_a
       |JOIN sizes nb ON nb.doc_id = i.doc_b
       |WHERE i.n_common >= (na.n + nb.n - i.n_common) * $minJaccard""".stripMargin

  /** Token simhash CTEs: `tok` (each doc's distinct tokens), `tokh` (their
    * h60), `bits` (each bit's ±1 vote sum) and `sig` (doc_id[, th], h): bit
    * b of h is set iff its vote is positive. `withTh` carries th = md5(text). */
  def simhashSql(withTh: Boolean): String = {
    val keys = if (withTh) "doc_id, th" else "doc_id"
    val th = if (withTh) ", md5(text) AS th" else ""
    s"""tok AS (
       | SELECT DISTINCT doc_id$th, unnest(string_split(text, ' ')) AS tok FROM documents),
       |tokh AS (SELECT $keys, ${h60("tok")} AS h FROM tok),
       |bits AS (
       | SELECT $keys, b.b AS b, SUM(((h >> b.b) & 1) * 2 - 1) AS s
       | FROM tokh, range(0, 60) b(b) GROUP BY $keys, b.b),
       |sig AS (
       | SELECT $keys, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS h
       | FROM bits GROUP BY $keys)""".stripMargin
  }

  /** Hamming near-dup pairs over fingerprint rows `fp`(doc_id, h, …): block
    * on the four 15-bit quarters of h, drop quarter keys shared by more than
    * `cap` distinct `th` values, keep pairs at Hamming ≤ maxHamming;
    * (doc_a, doc_b, hamming) with doc_a < doc_b. */
  def quarterPairsSql(fp: String, th: String, cap: Int, maxHamming: Int): String =
    s"""blocks AS (SELECT doc_id, $th AS th, h, q.q AS q, (h >> (q.q * 15)) & 32767 AS qk
       | FROM $fp, range(0, 4) q(q)),
       |hot AS (SELECT q, qk FROM (
       |  SELECT q, qk, count(DISTINCT th) AS df FROM blocks GROUP BY 1, 2)
       | WHERE df > $cap),
       |blk AS (SELECT b.doc_id, b.h, b.q, b.qk
       | FROM blocks b ANTI JOIN hot t ON b.q = t.q AND b.qk = t.qk),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, x.h AS ha,
       |  y.doc_id AS doc_b, y.h AS hb
       | FROM blk x JOIN blk y
       |  ON x.q = y.q AND x.qk = y.qk AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, bit_count(xor(ha, hb))::INT AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= $maxHamming""".stripMargin

  /** Connected components by min-label walk (under WITH RECURSIVE): CTEs
    * `edges` (the pairs a–b of `pairs`, both ways), `walk` and
    * `comp`(node, rep), rep = the least node of the component. */
  def componentsSql(pairs: String, a: String, b: String): String =
    s"""edges AS (
       | SELECT $a AS u, $b AS v FROM $pairs
       | UNION ALL SELECT $b, $a FROM $pairs),
       |walk(node, label) AS (
       | SELECT u, u FROM edges
       | UNION
       | SELECT e.u, w.label FROM edges e JOIN walk w ON w.node = e.v),
       |comp AS (SELECT node, min(label) AS rep FROM walk GROUP BY node)""".stripMargin

  /** Sequence-packing bins over t(doc_id, n_tokens): the exclusive prefix
    * sum of the tokens in doc_id order, bin = prefix div `capacity`, and
    * each bin's doc count, tokens and first/last doc. */
  def packBinsSql(capacity: Int): String =
    s"""p AS (
       | SELECT doc_id, n_tokens,
       |  COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
       | FROM t)
       |SELECT CAST(prefix // $capacity AS BIGINT) AS bin, count(*) AS n_docs,
       | CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       | min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM p GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // vector search rules
  // ---------------------------------------------------------------------

  /** IVF coarse assignment CTEs: `v`(vec_id, e), `cent` (the first 16
    * vectors as centroids d), `ad` and `assign`(vec_id, bucket): the argmax
    * of the dot over the centroid norm, tie → lowest d. */
  val ivfAssignSql: String =
    """v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |cent AS (
      | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS d, e
      | FROM v ORDER BY vec_id LIMIT 16),
      |ad AS (
      | SELECT v.vec_id, c.d,
      |  list_dot_product(v.e, c.e) / sqrt(list_dot_product(c.e, c.e)) AS dot
      | FROM v, cent c),
      |assign AS (
      | SELECT vec_id, d AS bucket FROM (
      |  SELECT vec_id, d, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, d) AS rn
      |  FROM ad) WHERE rn = 1)""".stripMargin

  /** IVF probe CTEs over [[ivfAssignSql]]: `q` (the first 5 vectors as
    * queries qid, qe), `qd` and `qprobe`(qid, bucket): each query's 4 best
    * centroids, tie → highest d. */
  val ivfProbeSql: String =
    """q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
      |qd AS (
      | SELECT q.qid, c.d,
      |  list_dot_product(q.qe, c.e) / sqrt(list_dot_product(c.e, c.e)) AS dot
      | FROM q, cent c),
      |qprobe AS (
      | SELECT qid, d AS bucket FROM (
      |  SELECT qid, d, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, d DESC) AS rn
      |  FROM qd) WHERE rn <= 4)""".stripMargin

  /** Exact kNN of the queries q(qid, qlat, qlon) over the documents at
    * (`lat`, `lon`): rank by squared distance, tie → id; the top k. */
  def knnSql(lat: String, lon: String, k: Int): String =
    s"""pts AS (SELECT doc_id AS id, $lat AS lat, $lon AS lon FROM documents),
       |d AS (SELECT qid, id,
       |  (qlat - lat)*(qlat - lat) + (qlon - lon)*(qlon - lon) AS dist2,
       |  row_number() OVER (PARTITION BY qid ORDER BY
       |    (qlat - lat)*(qlat - lat) + (qlon - lon)*(qlon - lon), id) AS rank
       | FROM q, pts)
       |SELECT qid, rank, id, CAST(FLOOR(dist2*1000000.0) AS BIGINT) AS dist2_fp
       |FROM d WHERE rank <= $k""".stripMargin

  // ---------------------------------------------------------------------
  // lux pixel rules
  // ---------------------------------------------------------------------

  /** CTEs `grid` (the lux1 whole_overlap 128 grid) and `px`(i, j, band, v):
    * every pixel of every grid window in bands 1..`bands`, the lux value
    * formula cast to `tpe`. */
  def luxPixelsSql(bands: Int, tpe: String): String =
    s"""grid AS (${sqlTileGrid(128, 128, "whole_overlap")}),
       |px AS (
       | SELECT i, j, b.b AS band,
       |  CAST(CAST((b.b * 7 + (row_off + y.y) * 13 + (col_off + x.x)) % 256 AS REAL) / CAST(850 AS REAL) AS $tpe) AS v
       | FROM grid, range(0, 128) y(y), range(0, 128) x(x), range(1, ${bands + 1}) b(b))""".stripMargin

  /** A pixel `v` clipped to [lo, hi] and rescaled to uint8 1..255. */
  def u8Sql(lo: String, hi: String): String =
    s"CAST(trunc(((CASE WHEN v < $lo THEN $lo WHEN v > $hi THEN $hi ELSE v END) - $lo) / ($hi - $lo) * 254.0 + 1.0) AS BIGINT)"

  /** The numpy-linear percentile `q` of a 128² chip band, as an aggregate
    * over [[percentileRescaleSql]]'s `ranked` grouped by chip band: the
    * order statistics at floor(pos) and floor(pos) + 1, pos = 16383·q/100,
    * lerped. */
  def percentileSql(q: Int): String = {
    val lo = 16383 * q / 100
    s"MAX(CASE WHEN rn = $lo THEN v END) + (MAX(CASE WHEN rn = ${lo + 1} THEN v END) - " +
      s"MAX(CASE WHEN rn = $lo THEN v END)) * (16383 * $q.0 / 100.0 - $lo)"
  }

  /** Per-chip-band uint8 sums of the lux pixels rescaled from the
    * per-chip-band window [lo, hi] (aggregates over `ranked`, the pixels
    * numbered from 0 by value within each chip band). */
  def percentileRescaleSql(lo: String, hi: String): String =
    s"""WITH ${luxPixelsSql(4, "DOUBLE")},
       |ranked AS (
       | SELECT i, j, band, v,
       |  row_number() OVER (PARTITION BY i, j, band ORDER BY v) - 1 AS rn
       | FROM px),
       |rng AS (SELECT i, j, band, $lo AS lo, $hi AS hi FROM ranked GROUP BY 1, 2, 3)
       |SELECT p.i, p.j, p.band::INT AS band, CAST(SUM(${u8Sql("lo", "hi")}) AS BIGINT) AS sum_u8
       |FROM px p JOIN rng USING (i, j, band)
       |GROUP BY 1, 2, 3""".stripMargin

  /** extract_chips oracle: the whole_overlap windows whose extent mask over
    * `polys` is non-empty and whose world bounds intersect the AOI box
    * (minx, miny, maxx, maxy) — or lie within it — numbered in (i, j)
    * order. */
  def chipsInAoi(polys: Seq[Seq[(Double, Double)]], aoi: (Double, Double, Double, Double),
                 within: Boolean): String = {
    val (x0, y0, x1, y1) = aoi
    val inAoi =
      if (within) s"g.minx >= $x0 AND g.maxx <= $x1 AND g.miny >= $y0 AND g.maxy <= $y1"
      else s"g.minx <= $x1 AND g.maxx >= $x0 AND g.miny <= $y1 AND g.maxy >= $y0"
    s"""WITH grid AS (${sqlTileGrid(128, 128, "whole_overlap")}),
       |${extentCountCte(polys)},
       |kept AS (
       | SELECT g.i, g.j, g.minx, g.miny, g.maxx, g.maxy
       | FROM grid g JOIN extcnt e ON e.i = g.i AND e.j = g.j
       | WHERE e.n_ext > 0 AND $inAoi)
       |SELECT CAST(row_number() OVER (ORDER BY i, j) - 1 AS BIGINT) AS id,
       | CAST(i AS INT) AS x, CAST(j AS INT) AS y, minx, miny, maxx, maxy,
       | 'lux1_' || CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR) || '.tif' AS filename
       |FROM kept""".stripMargin
  }

  // ---------------------------------------------------------------------
  // unsigned-64 splitmix64 in SQL (pages_chips oracle)
  // ---------------------------------------------------------------------

  private val U64 = "18446744073709551616" // 2^64
  private val C1 = java.lang.Long.toUnsignedString(0x9e3779b97f4a7c15L)
  private val C2 = java.lang.Long.toUnsignedString(0xbf58476d1ce4e5b9L)
  private val C3 = java.lang.Long.toUnsignedString(0x94d049bb133111ebL)

  /** value-in-[0,2^64) HUGEINT → signed 64-bit BIGINT (two's complement). */
  private def s64(e: String): String =
    s"CAST(CASE WHEN ($e) >= 9223372036854775808::HUGEINT THEN ($e) - $U64::HUGEINT ELSE ($e) END AS BIGINT)"

  /** signed BIGINT → value-in-[0,2^64) HUGEINT. */
  private def u64(e: String): String =
    s"(CASE WHEN ($e) < 0 THEN CAST($e AS HUGEINT) + $U64::HUGEINT ELSE CAST($e AS HUGEINT) END)"

  /** xor of two u64-as-HUGEINT values, via signed BIGINT xor. */
  private def xor64(a: String, b: String): String = u64(s"xor(${s64(a)}, ${s64(b)})")

  /** (a * b) mod 2^64 on u64-as-HUGEINT via 32-bit limbs:
    * a·b ≡ aLo·b + ((aHi·bLo) mod 2^32)·2^32  (mod 2^64). */
  private def mulMod(a: String, b: String): String =
    s"((((($a) % 4294967296::HUGEINT) * ($b)) + " +
      s"((((($a) // 4294967296::HUGEINT) * (($b) % 4294967296::HUGEINT)) % 4294967296::HUGEINT) * 4294967296::HUGEINT)) % $U64::HUGEINT)"

  /** CTE stages computing `vout` = SplitMix64.next(`vin`) (u64 HUGEINT).
    * `carry` columns are passed through each stage. */
  private def splitmixStages(pre: String, vin: String, tag: String, vout: String,
                             carry: Seq[String]): String = {
    val cs = carry.mkString(", ")
    s"""${tag}a AS (SELECT $cs, (($vin) + $C1::HUGEINT) % $U64::HUGEINT AS z FROM $pre),
       |${tag}b AS (SELECT $cs, ${mulMod(xor64("z", "(z // 1073741824::HUGEINT)"), C2 + "::HUGEINT")} AS z FROM ${tag}a),
       |${tag}c AS (SELECT $cs, ${mulMod(xor64("z", "(z // 134217728::HUGEINT)"), C3 + "::HUGEINT")} AS z FROM ${tag}b),
       |$tag AS (SELECT $cs, ${xor64("z", "(z // 2147483648::HUGEINT)")} AS $vout FROM ${tag}c)""".stripMargin
  }

  /** (v >>> 11) / 2^53 — SplitMix64.unitDouble's final step (exact: the
    * 53-bit mantissa fits a double, 2^53 division is a pure exponent shift). */
  private def unit(v: String): String =
    s"(CAST(($v) // 2048::HUGEINT AS DOUBLE) / 9007199254740992.0)"

  /** pages_chips oracle: re-derives every synthesized page's geotag with
    * splitmix64 in SQL (lon ← next(k), lat ← next(next(k)) — Fixtures
    * .pageLon/pageLat), assigns pages to the lux1 whole_overlap 128-grid by
    * the same half-open window containment as the Spark join, and emits the
    * per-tile counts. bad_text is identically 0: the text invariant holds
    * by construction on well-formed synthetic pages. */
  def pagesChips(nPages: Long, gridSql: String): String = {
    s"""WITH k0 AS (SELECT CAST(t.k AS HUGEINT) AS k, CAST(t.k AS HUGEINT) AS s FROM range(0, $nPages) t(k)),
       |${splitmixStages("k0", "s", "n1", "v1", Seq("k"))},
       |${splitmixStages("n1", "v1", "n2", "v2", Seq("k", "v1"))},
       |pts AS (SELECT
       |  $C + ${unit("v1")} * 0.043388628 AS lon,
       |  50.099582385 + ${unit("v2")} * 0.019403610 AS lat
       | FROM n2),
       |grid AS ($gridSql)
       |SELECT 'lux1' AS raster_id, i, j, count(*) AS n_pages, 0::BIGINT AS bad_text,
       | 'lux1_' || i || '_' || j || '.tif' AS filename
       |FROM pts, grid
       |WHERE lon >= minx AND lon < maxx AND lat <= maxy AND lat > miny
       |GROUP BY 2, 3""".stripMargin
  }

  // ---------------------------------------------------------------------
  // GDAL scanline extent rasterization (make_masks / extract_chips oracles)
  // ---------------------------------------------------------------------

  /** SQL VALUES rows of a polygon's edges in WORLD coords:
    * (poly_id, x0, y0, x1, y1). Closed ring, consecutive pairs. */
  private def edgeValues(polys: Seq[Seq[(Double, Double)]]): String =
    polys.zipWithIndex.flatMap { case (ring, pid) =>
      (ring :+ ring.head).sliding(2).map { case Seq((x0, y0), (x1, y1)) =>
        s"($pid, $x0, $y0, $x1, $y1)"
      }
    }.mkString(", ")

  /** CTE computing per-tile extent-mask pixel counts with the EXACT
    * core.Rasterize scanline rule: crossings of y = row+0.5 with half-open
    * edges, pixels with center x in [xa, xb) burned; world→window-pixel
    * inversion mirrors Affine.invert's (e·(x−c))/(a·e − b·d) expression
    * tree. Polygons must be convex and pairwise disjoint (the fixture
    * labels are), so per row there are exactly 0 or 2 crossings per polygon
    * and counts add. Produces CTE `extcnt(i, j, n_ext)`; requires a `grid`
    * CTE (i, j, col_off, row_off, win_width, win_height). */
  def extentCountCte(polys: Seq[Seq[(Double, Double)]]): String = {
    // Affine.invert with b = d = 0: the 0-product terms are FP no-ops, so
    // col = e·(x−x0w)/det, row = a·(y−y0w)/det with det = a·e — bit-equal
    // to the Scala expression tree
    val det = s"($A * $E)"
    s"""edges(pid, wx0, wy0, wx1, wy1) AS (VALUES ${edgeValues(polys)}),
       |ledges AS (
       | SELECT g.i, g.j, g.win_width AS w, g.win_height AS h, e.pid,
       |  ($E * (e.wx0 - ($C + g.col_off * $A))) / $det AS x0,
       |  ($A * (e.wy0 - ($F + g.row_off * $E))) / $det AS y0,
       |  ($E * (e.wx1 - ($C + g.col_off * $A))) / $det AS x1,
       |  ($A * (e.wy1 - ($F + g.row_off * $E))) / $det AS y1
       | FROM grid g, edges e),
       |cross_ AS (
       | SELECT i, j, w, pid, r.r AS row_, x0 + (r.r + 0.5 - y0) / (y1 - y0) * (x1 - x0) AS cx
       | FROM ledges, range(0, 128) r(r)
       | WHERE r.r < h
       |  AND ((y0 <= r.r + 0.5 AND y1 > r.r + 0.5) OR (y1 <= r.r + 0.5 AND y0 > r.r + 0.5))),
       |spans AS (
       | SELECT i, j, pid, row_, MIN(cx) AS xa, MAX(cx) AS xb, ANY_VALUE(w) AS w
       | FROM cross_ GROUP BY 1, 2, 3, 4),
       |extcnt AS (
       | SELECT i, j, COALESCE(SUM(GREATEST(0,
       |   LEAST(CAST(CEIL(xb - 0.5) AS BIGINT), w) - GREATEST(CAST(CEIL(xa - 0.5) AS BIGINT), 0))), 0) AS n_ext
       | FROM spans GROUP BY 1, 2)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // boundary (Bresenham) + distance (chamfer layer) masks — make_masks_all
  // ---------------------------------------------------------------------

  /** Full make_masks_all oracle: per-chip nonzero counts for all three mask
    * kinds, re-derived independently (reference: satproc/masks.py:204-232):
    *
    *  - '''extent''': the GDAL scanline fill of [[extentCountCte]];
    *  - '''boundary''': `Rasterize.drawLine`'s integer Bresenham replayed
    *    exactly by a recursive CTE over the per-chip FLOOR'd segment
    *    endpoints (same `Affine.forWindow`+`invert` expression tree as
    *    `ledges`), pixels clipped to the window and deduplicated;
    *  - '''distance''': `cv2.distanceTransform(DIST_L2, 3)` runs on the
    *    extent-minus-boundary grid with increments a=0.955 / b=1.3693 and
    *    uint8 truncation, so trunc(d) ≥ 1 ⟺ d ≥ 1 ⟺ the pixel has NO
    *    in-chip 4-adjacent zero (the only d < 1 value is a single straight
    *    step a = 0.955; the cheapest alternative, one diagonal b = 1.3693,
    *    already truncates to 1).  n_nonzero is therefore purely discrete —
    *    no float accumulation enters the oracle.  (Values stay < 256 on the
    *    fixture, so the uint8 wrap of `.toInt.toByte` never zeroes a pixel.)
    *
    * Chips kept mirror the F5 empty-mask skip: any of the three masks
    * nonzero (distance ⊆ extent, so extent-or-boundary decides). */
  def maskAll(polys: Seq[Seq[(Double, Double)]]): String =
    s"""${maskCtes(polys)}
       |SELECT 'lux1' AS raster_id, CAST(k.i AS INT) AS i, CAST(k.j AS INT) AS j,
       | kind.kind AS kind, 0 AS class_idx,
       | CAST(CASE kind.kind
       |  WHEN 'extent' THEN COALESCE(e.n_ext, 0)
       |  WHEN 'boundary' THEN COALESCE(b.n_bnd, 0)
       |  ELSE COALESCE(d.n_dist, 0) END AS BIGINT) AS n_nonzero
       |FROM kept k
       |CROSS JOIN (VALUES ('extent'), ('boundary'), ('distance')) kind(kind)
       |LEFT JOIN extcnt e ON e.i = k.i AND e.j = k.j
       |LEFT JOIN bndcnt b ON b.i = k.i AND b.j = k.j
       |LEFT JOIN dcnt d ON d.i = k.i AND d.j = k.j""".stripMargin

  /** make_masks_noborder oracle (M6 extent_no_border): the emitted extent
    * mask is extent MINUS the Bresenham boundary pixels — exactly the `nb`
    * pixel set; F5 keeps chips whose no-border mask is nonzero. */
  def maskNoBorder(polys: Seq[Seq[(Double, Double)]]): String =
    s"""${maskCtes(polys)},
       |nbcnt AS (SELECT i, j, count(*) AS n FROM nb GROUP BY 1, 2)
       |SELECT 'lux1' AS raster_id, CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       | 'extent' AS kind, 0 AS class_idx, CAST(n AS BIGINT) AS n_nonzero
       |FROM nbcnt WHERE n > 0""".stripMargin

  private def maskCtes(polys: Seq[Seq[(Double, Double)]]): String = {
    val det = s"($A * $E)"
    val bedges = polys.zipWithIndex.flatMap { case (ring, pid) =>
      (ring :+ ring.head).sliding(2).zipWithIndex.map {
        case (Seq((x0, y0), (x1, y1)), k) => s"(${pid * 100 + k}, $x0, $y0, $x1, $y1)"
      }
    }.mkString(", ")
    s"""WITH RECURSIVE grid AS (${sqlTileGrid(128, 128, "whole_overlap")}),
       |${extentCountCte(polys)},
       |ext AS (
       | SELECT DISTINCT s.i, s.j, r.x AS x, s.row_ AS y
       | FROM spans s, range(0, 128) r(x)
       | WHERE r.x >= GREATEST(CAST(CEIL(s.xa - 0.5) AS BIGINT), 0)
       |  AND r.x < LEAST(CAST(CEIL(s.xb - 0.5) AS BIGINT), s.w)),
       |bedges(eid, wx0, wy0, wx1, wy1) AS (VALUES $bedges),
       |binit AS (
       | SELECT g.i, g.j, g.win_width AS w, g.win_height AS h, e.eid,
       |  CAST(FLOOR(($E * (e.wx0 - ($C + g.col_off * $A))) / $det) AS INT) AS x,
       |  CAST(FLOOR(($A * (e.wy0 - ($F + g.row_off * $E))) / $det) AS INT) AS y,
       |  CAST(FLOOR(($E * (e.wx1 - ($C + g.col_off * $A))) / $det) AS INT) AS x1,
       |  CAST(FLOOR(($A * (e.wy1 - ($F + g.row_off * $E))) / $det) AS INT) AS y1
       | FROM grid g, bedges e),
       |bres AS (
       | SELECT i, j, w, h, eid, x, y, x1, y1,
       |  ABS(x1 - x) AS dx, -ABS(y1 - y) AS dy,
       |  CASE WHEN x < x1 THEN 1 ELSE -1 END AS sx,
       |  CASE WHEN y < y1 THEN 1 ELSE -1 END AS sy,
       |  ABS(x1 - x) - ABS(y1 - y) AS err
       | FROM binit
       | UNION ALL
       | SELECT i, j, w, h, eid,
       |  x + CASE WHEN 2 * err >= dy THEN sx ELSE 0 END,
       |  y + CASE WHEN 2 * err <= dx THEN sy ELSE 0 END,
       |  x1, y1, dx, dy, sx, sy,
       |  err + CASE WHEN 2 * err >= dy THEN dy ELSE 0 END
       |      + CASE WHEN 2 * err <= dx THEN dx ELSE 0 END
       | FROM bres WHERE NOT (x = x1 AND y = y1)),
       |bnd AS (
       | SELECT DISTINCT i, j, x, y FROM bres
       | WHERE x >= 0 AND x < w AND y >= 0 AND y < h),
       |bndcnt AS (SELECT i, j, count(*) AS n_bnd FROM bnd GROUP BY 1, 2),
       |nb AS (
       | SELECT e.i, e.j, e.x, e.y
       | FROM ext e ANTI JOIN bnd b ON b.i = e.i AND b.j = e.j AND b.x = e.x AND b.y = e.y),
       |nbg AS (
       | SELECT nb.i, nb.j, nb.x, nb.y, g.win_width AS w, g.win_height AS h
       | FROM nb JOIN grid g ON g.i = nb.i AND g.j = nb.j),
       |dcnt AS (
       | SELECT p.i, p.j, count(*) AS n_dist
       | FROM nbg p
       | LEFT JOIN nb nl ON nl.i = p.i AND nl.j = p.j AND nl.x = p.x - 1 AND nl.y = p.y
       | LEFT JOIN nb nr ON nr.i = p.i AND nr.j = p.j AND nr.x = p.x + 1 AND nr.y = p.y
       | LEFT JOIN nb nu ON nu.i = p.i AND nu.j = p.j AND nu.x = p.x AND nu.y = p.y - 1
       | LEFT JOIN nb nd ON nd.i = p.i AND nd.j = p.j AND nd.x = p.x AND nd.y = p.y + 1
       | WHERE (p.x = 0 OR nl.x IS NOT NULL) AND (p.x = p.w - 1 OR nr.x IS NOT NULL)
       |  AND (p.y = 0 OR nu.x IS NOT NULL) AND (p.y = p.h - 1 OR nd.x IS NOT NULL)
       | GROUP BY 1, 2),
       |kept AS (
       | -- DISTINCT-over-UNION-ALL, not UNION: under WITH RECURSIVE DuckDB
       | -- splits a bare UNION body into base/step halves and duplicates
       | SELECT DISTINCT i, j FROM (
       |  SELECT i, j FROM extcnt WHERE n_ext > 0
       |  UNION ALL SELECT i, j FROM bndcnt WHERE n_bnd > 0))""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Chaikin smoothing (generalize_3857 oracle)
  // ---------------------------------------------------------------------

  /** generalize_3857 oracle: replays 5 Chaikin refinements of the two
    * DP-simplified Mercator rectangles (reference:
    * satproc/postprocess/generalize.py:102-114) with a recursive CTE.
    *
    * Geom.chaikin's numpy-style blend is, per closed-ring vertex cᵢ, two
    * children: even = 0.75·cᵢ + 0.25·cᵢ₋₁ and odd = 0.75·cᵢ + 0.25·cᵢ₊₁,
    * with the ring endpoints blending against themselves (R[0]=L[0],
    * R[-1]=L[-1]).  Each CTE row carries (self, prev, next); wiring
    * prev(first)=first and next(last)=last makes the endpoint special cases
    * fall out of the uniform formulas, and the children's carried prev/next
    * are the bit-identical expressions of their new neighbors.  The base
    * rings are the Mercator corner images of the same 4326 corner
    * expressions the generalize_3857_dp oracle pins, in DP's emitted vertex
    * order (maxx,miny)→(minx,miny)→(minx,maxy)→(maxx,maxy)→close.
    *
    * Outputs integer stats at cm granularity (fp2 absorbs the ≤1-ulp
    * tan/ln libm spread, as in reproject_3857): point count, envelope, and
    * a per-vertex floor(100·x)+floor(100·y) checksum that pins every
    * blended coordinate, a stronger check than area with no
    * summation-order FP hazard. */
  def chaikinStats: String = {
    def mx(lon: String) = s"(radians($lon) * 6378137.0)"
    def my(lat: String) = s"(ln(tan(${math.Pi / 4.0} + radians($lat) / 2.0)) * 6378137.0)"
    val baseRows = blobBounds.zipWithIndex.flatMap { case ((lnMn, ltMn, lnMx, ltMx), b) =>
      val x0 = mx(lnMn); val x1 = mx(lnMx); val y0 = my(ltMn); val y1 = my(ltMx)
      Seq((x1, y0), (x0, y0), (x0, y1), (x1, y1), (x1, y0)).zipWithIndex.map {
        case ((x, y), idx) => s"($b, $idx, $x, $y)"
      }
    }.mkString(", ")
    s"""WITH RECURSIVE base(blob, idx, x, y) AS (VALUES $baseRows),
       |b2 AS (
       | SELECT blob, idx, x, y,
       |  COALESCE(LAG(x) OVER w, x) AS px, COALESCE(LAG(y) OVER w, y) AS py,
       |  COALESCE(LEAD(x) OVER w, x) AS nx, COALESCE(LEAD(y) OVER w, y) AS ny
       | FROM base WINDOW w AS (PARTITION BY blob ORDER BY idx)),
       |ch AS (
       | SELECT blob, 0 AS it, idx, x, y, px, py, nx, ny FROM b2
       | UNION ALL
       | SELECT blob, it + 1, 2 * idx + c.k,
       |  CASE WHEN c.k = 0 THEN x * 0.75 + px * 0.25 ELSE x * 0.75 + nx * 0.25 END,
       |  CASE WHEN c.k = 0 THEN y * 0.75 + py * 0.25 ELSE y * 0.75 + ny * 0.25 END,
       |  CASE WHEN c.k = 0 THEN px * 0.75 + x * 0.25 ELSE x * 0.75 + px * 0.25 END,
       |  CASE WHEN c.k = 0 THEN py * 0.75 + y * 0.25 ELSE y * 0.75 + py * 0.25 END,
       |  CASE WHEN c.k = 0 THEN x * 0.75 + nx * 0.25 ELSE nx * 0.75 + x * 0.25 END,
       |  CASE WHEN c.k = 0 THEN y * 0.75 + ny * 0.25 ELSE ny * 0.75 + y * 0.25 END
       | FROM ch, (VALUES (0), (1)) c(k) WHERE it < 5)
       |SELECT 255 AS dn, CAST(count(*) AS INT) AS n_points,
       | CAST(FLOOR(MIN(x) * 100.0) AS BIGINT) AS minx_fp,
       | CAST(FLOOR(MIN(y) * 100.0) AS BIGINT) AS miny_fp,
       | CAST(FLOOR(MAX(x) * 100.0) AS BIGINT) AS maxx_fp,
       | CAST(FLOOR(MAX(y) * 100.0) AS BIGINT) AS maxy_fp,
       | CAST(SUM(CAST(FLOOR(x * 100.0) AS BIGINT) + CAST(FLOOR(y * 100.0) AS BIGINT)) AS BIGINT) AS coord_sum_cm
       |FROM ch WHERE it = 5 GROUP BY blob""".stripMargin
  }

  // ---------------------------------------------------------------------
  // grids
  // ---------------------------------------------------------------------

  /** DuckDB query: the lux1 `TileGrid.squareWindows(size, step, W, H, mode)`
    * grid with world bounds — (i, j, col_off, row_off, win_width,
    * win_height, minx, miny, maxx, maxy) — re-derived with range() from the
    * reference's `sliding_windows` (utils.py:39-90), never from engine
    * output. `exact` clips border windows to the raster; `whole_overlap`
    * adds the right-edge column, bottom-edge row and corner windows when
    * the raster is not a multiple of the step (utils.py:79-90). */
  def sqlTileGrid(size: Int, step: Int, mode: String): String = {
    require(Set("exact", "whole", "whole_overlap").contains(mode), s"bad mode $mode")
    val whole = mode != "exact"
    val endI = if (whole) H - size else H // exclusive range ends
    val endJ = if (whole) W - size else W
    require(endI > 0 && endJ > 0, s"no $size-pixel window fits the ${W}x$H raster")
    val (winW, winH) =
      if (whole) (s"$size", s"$size") else (s"LEAST($size, $W - x.j)", s"LEAST($size, $H - y.i)")
    val extras =
      if (mode == "whole_overlap" && (H % step != 0 || W % step != 0))
        s""", extra_col AS (
           |  SELECT y.i // $step AS i, ($endJ - 1) // $step + 1 AS j,
           |         ${W - size} AS col_off, y.i AS row_off, $size AS win_width, $size AS win_height
           |  FROM range(0, $endI, $step) y(i)
           |), extra_row AS (
           |  SELECT ($endI - 1) // $step + 1 AS i, x.j // $step AS j,
           |         x.j AS col_off, ${H - size} AS row_off, $size AS win_width, $size AS win_height
           |  FROM range(0, $endJ, $step) x(j)
           |), corner AS (
           |  SELECT ($endI - 1) // $step + 1 AS i, ($endJ - 1) // $step + 1 AS j,
           |         ${W - size} AS col_off, ${H - size} AS row_off, $size AS win_width, $size AS win_height
           |), grid AS (
           |  SELECT * FROM main UNION ALL SELECT * FROM extra_col
           |  UNION ALL SELECT * FROM extra_row UNION ALL SELECT * FROM corner
           |)""".stripMargin
      else ", grid AS (SELECT * FROM main)"
    s"""
       |WITH main AS (
       |  SELECT y.i // $step AS i, x.j // $step AS j, x.j AS col_off, y.i AS row_off,
       |         $winW AS win_width, $winH AS win_height
       |  FROM range(0, $endI, $step) y(i), range(0, $endJ, $step) x(j)
       |)$extras
       |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       |       CAST(col_off AS INT) AS col_off, CAST(row_off AS INT) AS row_off,
       |       CAST(win_width AS INT) AS win_width, CAST(win_height AS INT) AS win_height,
       |       $C + col_off * $A AS minx,
       |       $F + (row_off + win_height) * ($E) AS miny,
       |       $C + (col_off + win_width) * $A AS maxx,
       |       $F + row_off * ($E) AS maxy
       |FROM grid
       |""".stripMargin
  }

  // ---------------------------------------------------------------------
  // smooth stitch (spline weights + nan-max merge)
  // ---------------------------------------------------------------------

  /** smooth_stitch oracle: re-derives the 128-px 1-D spline window
    * (scipy triang → power pieces → mean-normalize), the 2-D outer-product
    * min-max-normalized weights, the overlapping whole_overlap/64 chip grid
    * and exact/128 output grid, then per output pixel takes the max of
    * weight·probValue over covering chips and sums per output window.
    * FP note: pow/mean reductions differ from the sequential Scala sums by
    * ≤ ulps; the ·100-floor output granularity absorbs that. */
  def smoothStitch(power: Double): String = {
    s"""WITH tri AS (
       | SELECT i.i AS i, CASE WHEN i.i < 64 THEN (2.0 * (i.i + 1) - 1.0) / 128.0
       |                       ELSE (2.0 * (128 - i.i) - 1.0) / 128.0 END AS t
       | FROM range(0, 128) i(i)),
       |w1p AS (
       | SELECT i,
       |  CASE WHEN i < 32 OR i >= 96 THEN pow(abs(2.0 * t), $power) / 2.0 ELSE 0.0 END +
       |  CASE WHEN i >= 32 AND i < 96 THEN 1.0 - pow(abs(2.0 * (t - 1.0)), $power) / 2.0 ELSE 0.0 END AS wind
       | FROM tri),
       |w1 AS (SELECT i, wind / (SELECT SUM(wind) / 128.0 FROM w1p) AS w FROM w1p),
       |w2r AS (SELECT y.i AS wy, x.i AS wx, (y.w * x.w) / 4.0 AS w FROM w1 y, w1 x),
       |w2s AS (SELECT MIN(w) AS mn, MAX(w) AS mx FROM w2r),
       |w2 AS (SELECT wy, wx, (w - mn) / (mx - mn) AS w FROM w2r, w2s),
       |cg AS (SELECT col_off, row_off FROM (${sqlTileGrid(128, 64, "whole_overlap")})),
       |og AS (SELECT i AS oi, j AS oj, col_off AS ocol, row_off AS orow,
       |        win_width AS ow, win_height AS oh FROM (${sqlTileGrid(128, 128, "exact")})),
       |pxv AS (
       | SELECT o.oi, o.oj, o.ocol, o.orow, o.ow, o.oh, y.y AS py, x.x AS px,
       |  MAX(w2.w * (CASE WHEN ((o.orow + y.y) >= 20 AND (o.orow + y.y) < 60 AND (o.ocol + x.x) >= 100 AND (o.ocol + x.x) < 160)
       |                  OR ((o.orow + y.y) >= 150 AND (o.orow + y.y) < 200 AND (o.ocol + x.x) >= 300 AND (o.ocol + x.x) < 400)
       |              THEN 40.0 ELSE 0.0 END)) AS v
       | FROM og o, range(0, 128) y(y), range(0, 128) x(x), cg c, w2
       | WHERE y.y < o.oh AND x.x < o.ow
       |  AND (o.orow + y.y) - c.row_off = w2.wy
       |  AND (o.ocol + x.x) - c.col_off = w2.wx
       | GROUP BY 1, 2, 3, 4, 5, 6, 7, 8)
       |SELECT CAST(oi AS INT) AS oi, CAST(oj AS INT) AS oj, CAST(ocol AS INT) AS ocol,
       | CAST(orow AS INT) AS orow, CAST(ow AS INT) AS ow, CAST(oh AS INT) AS oh,
       | CAST(oi AS VARCHAR) || '_' || CAST(oj AS VARCHAR) AS filename,
       | CAST(FLOOR(SUM(v) * 100.0) AS BIGINT) AS sum_fp
       |FROM pxv GROUP BY 1, 2, 3, 4, 5, 6, 7""".stripMargin
  }

  // ---------------------------------------------------------------------
  // separable gaussian over the virtual mosaic (spatial_filter oracle)
  // ---------------------------------------------------------------------

  /** spatial_filter_gaussian oracle: 5-tap binomial kernel (exact binary
    * doubles), REFLECT_101 at the RASTER edges (the halo exchange makes the
    * distributed result equal a single whole-raster convolution), direct
    * 25-term 2-D sum per pixel cast to REAL (float rounding absorbs the
    * separable-vs-direct double reassociation), per-tile sums ·100. */
  def spatialFilterGaussian: String = {
    val v = s"CAST(CAST((b.b * 7 + ry * 13 + rx) % 256 AS REAL) / CAST(850 AS REAL) AS REAL)"
    val ry = s"(CASE WHEN g.row_off + y.y + ky.kk - 2 < 0 THEN -(g.row_off + y.y + ky.kk - 2) WHEN g.row_off + y.y + ky.kk - 2 >= $H THEN ${2 * H - 2} - (g.row_off + y.y + ky.kk - 2) ELSE g.row_off + y.y + ky.kk - 2 END)"
    val rx = s"(CASE WHEN g.col_off + x.x + kx.kk - 2 < 0 THEN -(g.col_off + x.x + kx.kk - 2) WHEN g.col_off + x.x + kx.kk - 2 >= $W THEN ${2 * W - 2} - (g.col_off + x.x + kx.kk - 2) ELSE g.col_off + x.x + kx.kk - 2 END)"
    s"""WITH kw(kk, kv) AS (VALUES (0, 0.0625), (1, 0.25), (2, 0.375), (3, 0.25), (4, 0.0625)),
       |g AS (${sqlTileGrid(128, 128, "exact")}),
       |out_ AS (
       | SELECT g.i, g.j, b.b AS b, y.y AS y, x.x AS x,
       |  CAST(SUM(ky.kv * kx.kv * ${v.replace("ry", ry).replace("rx", rx)}) AS REAL) AS v
       | FROM g, range(0, 128) y(y), range(0, 128) x(x), range(1, 5) b(b), kw ky, kw kx
       | WHERE y.y < g.win_height AND x.x < g.win_width
       | GROUP BY 1, 2, 3, 4, 5)
       |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       | CAST(FLOOR(SUM(CAST(v AS DOUBLE)) * 100.0) AS BIGINT) AS sum_fp
       |FROM out_ GROUP BY 1, 2""".stripMargin
  }

  /** spatial_filter_median oracle: per output pixel the 5×5 neighborhood
    * median with BORDER_REPLICATE index clamping at the RASTER edges
    * (RasterMath.medianBlur + the halo exchange ⇒ whole-raster parity).
    * The median of 25 values is element 12 of the sorted window — DuckDB's
    * quantile_disc(0.5) picks position (n−1)·0.5 = 12, and the result is
    * one of the input REALs, so the comparison is bit-exact with no
    * arithmetic; only the per-tile ·100-floored sum reassociates (absorbed,
    * as in spatial_filter_gaussian). */
  def spatialFilterMedian: String = {
    val ry = s"LEAST(GREATEST(g.row_off + y.y + ky.ky - 2, 0), ${H - 1})"
    val rx = s"LEAST(GREATEST(g.col_off + x.x + kx.kx - 2, 0), ${W - 1})"
    val v = s"CAST(CAST((b.b * 7 + $ry * 13 + $rx) % 256 AS REAL) / CAST(850 AS REAL) AS REAL)"
    s"""WITH g AS (${sqlTileGrid(128, 128, "exact")}),
       |med AS (
       | SELECT g.i, g.j, b.b AS b, y.y AS y, x.x AS x,
       |  quantile_disc($v, 0.5) AS v
       | FROM g, range(0, 128) y(y), range(0, 128) x(x), range(1, 5) b(b),
       |      range(0, 5) ky(ky), range(0, 5) kx(kx)
       | WHERE y.y < g.win_height AND x.x < g.win_width
       | GROUP BY 1, 2, 3, 4, 5)
       |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       | CAST(FLOOR(SUM(CAST(v AS DOUBLE)) * 100.0) AS BIGINT) AS sum_fp
       |FROM med GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------------
  // histogram matching (skimage joint-CDF interp, per aligned window pair)
  // ---------------------------------------------------------------------

  /** histogram_match oracle: per exact/128 tile, build src and ref
    * unique-value CDFs from the fixture formulas, np.interp each src
    * quantile into the ref (quantile → value) polyline exactly as
    * RasterMath.matchHistograms (the exact-hit branch coincides with the
    * interp formula at q = q0), cast to REAL, sum·100 per tile. */
  def histogramMatch: String = {
    val srcV = "CAST((py * 31 + px * 17) % 200 AS REAL)"
    val refV = "CAST(((py * 13 + px * 7) % 200) // 2 + 55 AS REAL)"
    s"""WITH g AS (${sqlTileGrid(128, 128, "exact")}),
       |px AS (
       | SELECT g.i, g.j, g.win_width * g.win_height AS n,
       |  g.row_off + y.y AS py, g.col_off + x.x AS px
       | FROM g, range(0, 128) y(y), range(0, 128) x(x)
       | WHERE y.y < g.win_height AND x.x < g.win_width),
       |sp AS (SELECT i, j, ANY_VALUE(n) AS n, $srcV AS v, count(*) AS cnt FROM px GROUP BY 1, 2, 4),
       |sq AS (SELECT i, j, v, cnt,
       |        CAST(SUM(cnt) OVER (PARTITION BY i, j ORDER BY v) AS DOUBLE) / n AS q FROM sp),
       |rp AS (SELECT i, j, ANY_VALUE(n) AS n, $refV AS v, count(*) AS cnt FROM px GROUP BY 1, 2, 4),
       |rq AS (SELECT i, j, v,
       |        CAST(SUM(cnt) OVER (PARTITION BY i, j ORDER BY v) AS DOUBLE) / n AS q FROM rp),
       |rq2 AS (SELECT i, j, v AS v0, q AS q0,
       |         LEAD(v) OVER (PARTITION BY i, j ORDER BY v) AS v1,
       |         LEAD(q) OVER (PARTITION BY i, j ORDER BY v) AS q1,
       |         MIN(v) OVER (PARTITION BY i, j) AS vmin,
       |         MIN(q) OVER (PARTITION BY i, j) AS qmin
       |        FROM rq),
       |mapped AS (
       | SELECT s.i, s.j, s.cnt,
       |  CAST(CASE WHEN s.q < r.qmin THEN r.vmin
       |            WHEN r.q1 IS NULL THEN r.v0
       |            ELSE r.v0 + (r.v1 - r.v0) * ((s.q - r.q0) / (r.q1 - r.q0)) END AS REAL) AS mv
       | FROM sq s JOIN rq2 r ON r.i = s.i AND r.j = s.j
       |  AND ((s.q >= r.q0 AND (r.q1 IS NULL OR s.q < r.q1)) OR (s.q < r.qmin AND r.q0 = r.qmin)))
       |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       | CAST(FLOOR(SUM(CAST(mv AS DOUBLE) * cnt) * 100.0) AS BIGINT) AS sum_fp
       |FROM mapped GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------------
  // multimodal: analytic prediction of the DECODED image features
  // ---------------------------------------------------------------------

  /** Feature sum in the exact order decodeImage fills the 16-vector:
    * 0.0 + meanR + meanG + meanB + w/1024 + h/1024 (+ 11 FP-no-op zeros). */
  private def featSum(m0: String, m1: String, m2: String, w: String, h: String): String =
    s"((((0.0 + CAST($m0 AS DOUBLE)) + CAST($m1 AS DOUBLE)) + CAST($m2 AS DOUBLE))" +
      s" + CAST(CAST(CAST($w AS DOUBLE) / 1024.0 AS REAL) AS DOUBLE))" +
      s" + CAST(CAST(CAST($h AS DOUBLE) / 1024.0 AS REAL) AS DOUBLE)"

  /** Per-(doc[, frame], channel) mean CTE body over the synth pixel
    * formula, mirroring decodeImage's (sum / n / 255).toFloat. */
  private def channelMeans(withFrames: Boolean): String = {
    val sel = if (withFrames) ", fr.frame_idx" else ""
    val key = if (withFrames) ", frame_idx" else ""
    val frJoin = if (withFrames) ", fr" else ""
    val frameExpr = if (withFrames) "fr.src" else "0"
    s"""d AS (SELECT doc_id, 16 + doc_id % 17 AS w, 16 + (doc_id * 7) % 13 AS h FROM documents),
       |px AS (
       | SELECT d.doc_id, d.w, d.h$sel, c.c AS c,
       |  ((d.doc_id * 31 + y.y * 13 + x.x * 7 + c.c * 11 + ($frameExpr) * 17) % 256) AS v
       | FROM d$frJoin, range(0, 32) y(y), range(0, 32) x(x), range(0, 3) c(c)
       | WHERE y.y < d.h AND x.x < d.w),
       |ch AS (
       | SELECT doc_id$key, ANY_VALUE(w) AS w, ANY_VALUE(h) AS h, c,
       |  CAST(CAST(SUM(v) AS DOUBLE) / (ANY_VALUE(w) * ANY_VALUE(h)) / 255.0 AS REAL) AS mean
       | FROM px GROUP BY doc_id$key, c),
       |f AS (
       | SELECT doc_id$key, ANY_VALUE(w) AS w, ANY_VALUE(h) AS h,
       |  MAX(CASE WHEN c = 0 THEN mean END) AS m0,
       |  MAX(CASE WHEN c = 1 THEN mean END) AS m1,
       |  MAX(CASE WHEN c = 2 THEN mean END) AS m2
       | FROM ch GROUP BY doc_id$key)""".stripMargin
  }

  /** multimodal_features oracle. */
  def multimodalFeatures: String =
    s"""WITH ${channelMeans(withFrames = false)}
       |SELECT doc_id, 'image/png' AS media_type, CAST(w AS INT) AS width,
       | CAST(h AS INT) AS height, CAST(w * h AS INT) AS n_px,
       | CAST(FLOOR((${featSum("m0", "m1", "m2", "w", "h")}) * 1000000.0) AS BIGINT) AS feat_sum_fp
       |FROM f""".stripMargin

  /** multimodal_frames oracle: 3 of 5 frames, evenly spaced (source frame
    * = idx·(5−1)/(3−1) = idx·2), per-frame channel means. */
  def multimodalFrames: String =
    s"""WITH fr AS (SELECT f.f AS frame_idx, f.f * 2 AS src FROM range(0, 3) f(f)),
       |${channelMeans(withFrames = true)}
       |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       | CAST(FLOOR((${featSum("m0", "m1", "m2", "w", "h")}) * 1000000.0) AS BIGINT) AS feat_sum_fp
       |FROM f""".stripMargin

  // ---------------------------------------------------------------------
  // retile
  // ---------------------------------------------------------------------

  /** retile_64 oracle: the uniform 64-grid with clipped edge tiles, pixel
    * values from the lux formula, per-tile 4-band sums ·100. */
  def retile64: String = {
    val nI = (H + 63) / 64; val nJ = (W + 63) / 64
    s"""WITH g AS (
       | SELECT ti.d AS i, tj.d AS j, tj.d * 64 AS col_off, ti.d * 64 AS row_off,
       |  LEAST(64, $W - tj.d * 64) AS width, LEAST(64, $H - ti.d * 64) AS height
       | FROM range(0, $nI) ti(d), range(0, $nJ) tj(d)),
       |px AS (
       | SELECT g.i, g.j, g.col_off, g.row_off, g.width, g.height,
       |  CAST(CAST((b.b * 7 + (g.row_off + y.y) * 13 + (g.col_off + x.x)) % 256 AS REAL) / CAST(850 AS REAL) AS REAL) AS v
       | FROM g, range(0, 64) y(y), range(0, 64) x(x), range(1, 5) b(b)
       | WHERE y.y < g.height AND x.x < g.width)
       |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, CAST(col_off AS INT) AS col_off,
       | CAST(row_off AS INT) AS row_off, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       | CAST(FLOOR(SUM(CAST(v AS DOUBLE)) * 100.0) AS BIGINT) AS sum_fp
       |FROM px GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }
}
