package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => WExpr}

import graft.core.Geom
import graft.functions.{CellFunctions, TileWindowsGenerator}
import graft.OracleSql.h60
import graft.operators._
import graft.sources.Fixtures

/** The driver-facing query surface: one entry per operator (SURVEY.md §2 +
  * the training-data pipeline ops), each with an equivalent DuckDB oracle
  * where the semantics are SQL-expressible. Cross-engine determinism rules:
  *   - integer outputs wherever possible (counts, exact fractions);
  *   - doubles only from identical IEEE expression trees on both sides;
  *   - `floor(x*1e6)` instead of round() (round differs HALF_UP/HALF_EVEN);
  *   - rankings always tie-broken by id on rounded values.
  */
object QueryCatalog {

  /** Scale-adaptive read of a table whose consumers do heavy per-row JVM
    * work (typed flatMaps, digests, media decode): when the file is too
    * small to yield one scan split per core — the guide's unsplittable-
    * input case (§2.5): a fixture-scale parquet is ONE row group, so every
    * per-row kernel downstream ran on 1 of the session's cores (measured:
    * model_quality spent 1.3 of its 1.8 s in two single-task stages) —
    * spread rows round-robin across the session's parallelism right after
    * the scan. The `catalog.spreadRead` gate measures the input's split
    * count (file bytes over the session's split size) against cores − 1,
    * so at production scale (splits ≥ cores) this adds NO exchange; the
    * spread itself is deterministic (sort-before-repartition is on) and
    * every consumer is partition-agnostic (hashes, joins, aggregations,
    * range-repartitioned enumerations). */
  private def spreadRead(s: SparkSession, path: String): DataFrame = {
    val df = s.read.parquet(path)
    val cores = s.sparkContext.defaultParallelism
    val spread = Gate("catalog.spreadRead", cores - 1L) {
      val bytes =
        try {
          val p = java.nio.file.Paths.get(path)
          if (java.nio.file.Files.isDirectory(p)) {
            val st = java.nio.file.Files.list(p)
            try st.mapToLong(f => java.nio.file.Files.size(f)).sum()
            finally st.close()
          } else java.nio.file.Files.size(p)
        } catch { case _: Exception => Long.MaxValue }
      bytes / math.max(1L, s.sessionState.conf.filesMaxPartitionBytes)
    }
    if (spread) df.repartition(cores) else df
  }

  private def docs(s: SparkSession, dir: String) = spreadRead(s, s"$dir/documents.parquet")

  /** Plain (un-spread) documents read for METADATA-ONLY consumers (doc_id /
    * length projections feeding a join or aggregation): the [[spreadRead]]
    * round-robin exchange exists to parallelize heavy per-row work, but a
    * consumer that immediately re-exchanges (join key) or collects
    * (broadcast build) gets zero benefit and pays one full extra exchange
    * of the rows — measured on dedup_clusters/dedup_keep_best as a wasted
    * RoundRobinPartitioning hop under the final join on both sides
    * (guide §2.4: remove shuffles outright). */
  private def docsPlain(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/documents.parquet")

  /** Fixed BM25 query set over the documents vocabulary (shared verbatim
    * with the oracle's VALUES list). */
  private val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "hash join merge", 1L -> "slow scan filter",
    2L -> "customer order query", 3L -> "vector batch data stream")

  /** PQ code assignment as SQL (shared by pq_encode / pq_topk): the same
    * data-sampled codebook, subspace slices and 2·x·c − |c|² argmax tree
    * [[graft.operators.Similarity.pqEncode]] evaluates, tie → lowest code. */
  private val pqAssignCte: String =
    """v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |cent AS (
      | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j, e
      | FROM v ORDER BY vec_id LIMIT 16),
      |subs AS (SELECT CAST(r.range AS INT) AS sub FROM range(0, 8) r),
      |csub AS (SELECT s.sub, c.j,
      |  list_slice(c.e, s.sub*8 + 1, (s.sub+1)*8) AS ce
      | FROM cent c CROSS JOIN subs s),
      |scoredv AS (SELECT v.vec_id, cs.sub, cs.j,
      |  list_dot_product(list_slice(v.e, cs.sub*8 + 1, (cs.sub+1)*8), cs.ce) * 2.0
      |    - list_dot_product(cs.ce, cs.ce) AS score
      | FROM v CROSS JOIN csub cs),
      |assign AS (SELECT vec_id, sub, j AS code FROM (
      |  SELECT vec_id, sub, j, row_number() OVER (
      |    PARTITION BY vec_id, sub ORDER BY score DESC, j) AS rn
      |  FROM scoredv) WHERE rn = 1)""".stripMargin

  /** The sign-LSH band keys of [[graft.operators.Similarity.cosinePairs]]
    * as SQL select items `k0 … k{nBands-1}` over a DOUBLE[] column `e`:
    * key b sums 2^i over the sign bits of the exact hyperplanes
    * direction(100 + b·width + i) as literals (shared by dedup_embedding
    * and decontaminate_semantic). */
  private def signLshKeySql(nBands: Int, width: Int): String = {
    def keyExpr(b: Int) = (0 until width).map { i =>
      val dir = Similarity.direction(100 + b * width + i, 64).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(e, $dir::DOUBLE[]) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    (0 until nBands).map(b => s"${keyExpr(b)} AS k$b").mkString(",\n  ")
  }

  /** Unrolled integer-PageRank oracle: iteration k's CTE references k−1's
    * — recursive CTEs cannot host per-round aggregates (the bpe_train
    * lesson), so the ten rounds are generated as a chain. Every value is
    * an exact integer (contributions floored by `//` before the sum), so
    * the hash gate needs no float truce; DuckDB's SUM(BIGINT) widens to
    * HUGEINT, exact throughout, and the final CAST restores BIGINT. */
  private def pageRankSql(iters: Int): String = {
    val base =
      """links AS (
        | SELECT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS dst FROM documents
        | UNION ALL
        | SELECT doc_id % 97, (doc_id * 53 + 11) % 97 FROM documents),
        |e AS (SELECT src, dst, count(*) AS w FROM links WHERE src <> dst GROUP BY 1, 2),
        |nodes AS (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |ow AS (SELECT src, SUM(w) AS wout FROM e GROUP BY 1),
        |ew AS (SELECT e.src, e.dst, e.w, ow.wout FROM e JOIN ow ON ow.src = e.src),
        |r0 AS (SELECT node, 1000000::BIGINT AS rank_u FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""r$k AS (SELECT n.node,
         | 150000 + COALESCE(SUM((r.rank_u * 85 * ew.w) // (100 * ew.wout)), 0) AS rank_u
         | FROM nodes n
         | LEFT JOIN ew ON ew.dst = n.node
         | LEFT JOIN r${k - 1} r ON r.node = ew.src
         | GROUP BY 1)""".stripMargin
    }
    s"WITH $base,\n${rounds.mkString(",\n")}\n" +
      s"SELECT node, CAST(rank_u AS BIGINT) AS rank_u FROM r$iters"
  }

  /** Unrolled HITS oracle: per round, hub sums over out-edges then an
    * integer max-rescale to 1e6, authority sums over in-edges likewise —
    * `//` on non-negative values matches Spark's `div`; DuckDB's SUM
    * widens to HUGEINT but the engine-side 1e12 headroom guard certifies
    * the final BIGINT casts are lossless. */
  private def hitsSql(iters: Int): String = {
    // every CTE is MATERIALIZED: each round references its predecessor
    // 2-3× (values + the max-rescale scalar subquery + the next round),
    // and DuckDB's default inlining would re-evaluate the whole chain
    // per reference — exponential in rounds (and it re-opens the parquet
    // per inlined scan, tripping the fd limit before it trips the clock)
    val base =
      """links AS MATERIALIZED (
        | SELECT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS dst FROM documents
        | UNION ALL
        | SELECT doc_id % 97, (doc_id * 53 + 11) % 97 FROM documents),
        |e AS MATERIALIZED (SELECT src, dst, count(*) AS w FROM links WHERE src <> dst GROUP BY 1, 2),
        |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |a0 AS MATERIALIZED (SELECT node, 1000000::BIGINT AS v FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""hf$k AS MATERIALIZED (SELECT n.node, COALESCE(SUM(e.w * a.v), 0) AS v
         | FROM nodes n
         | LEFT JOIN e ON e.src = n.node
         | LEFT JOIN a${k - 1} a ON a.node = e.dst
         | GROUP BY 1),
         |h$k AS MATERIALIZED (SELECT node, v * 1000000 // (SELECT max(v) FROM hf$k) AS v FROM hf$k),
         |af$k AS MATERIALIZED (SELECT n.node, COALESCE(SUM(e.w * h.v), 0) AS v
         | FROM nodes n
         | LEFT JOIN e ON e.dst = n.node
         | LEFT JOIN h$k h ON h.node = e.src
         | GROUP BY 1),
         |a$k AS MATERIALIZED (SELECT node, v * 1000000 // (SELECT max(v) FROM af$k) AS v FROM af$k)""".stripMargin
    }
    s"WITH $base,\n${rounds.mkString(",\n")}\n" +
      s"""SELECT n.node, CAST(h.v AS BIGINT) AS hub_u, CAST(a.v AS BIGINT) AS auth_u
         |FROM nodes n
         |JOIN h$iters h ON h.node = n.node
         |JOIN a$iters a ON a.node = n.node""".stripMargin
  }

  /** Shared IVFADC oracle CTE chain (coarse assign, residual encode,
    * ADC lut with the sub-0 |r_q|² bias, scored + ranked as `rk`) — the
    * ivfpq_topk and ivfpq_rerank oracles both build on it. */
  private val ivfpqCoreCtes: String =
    s"""WITH ${OracleSql.ivfAssignSql},
         |resid AS (
         | SELECT v.vec_id, a.bucket,
         |  list_transform(list_zip(v.e, c.e), p -> p[1] - p[2]) AS r
         | FROM v JOIN assign a ON a.vec_id = v.vec_id JOIN cent c ON c.d = a.bucket),
         |cb AS (
         | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j, r
         | FROM resid ORDER BY vec_id LIMIT 256),
         |subs AS (SELECT CAST(s.range AS INT) AS sub FROM range(0, 8) s),
         |csub AS (SELECT subs.sub, cb.j,
         |  list_slice(cb.r, subs.sub*8 + 1, (subs.sub+1)*8) AS ce
         | FROM cb CROSS JOIN subs),
         |scoredv AS (SELECT t.vec_id, cs.sub, cs.j,
         |  list_dot_product(list_slice(t.r, cs.sub*8 + 1, (cs.sub+1)*8), cs.ce) * 2.0
         |    - list_dot_product(cs.ce, cs.ce) AS score
         | FROM resid t CROSS JOIN csub cs),
         |enc AS (SELECT vec_id, sub, j AS code FROM (
         |  SELECT vec_id, sub, j, row_number() OVER (
         |    PARTITION BY vec_id, sub ORDER BY score DESC, j) AS rn
         |  FROM scoredv) WHERE rn = 1),
         |${OracleSql.ivfProbeSql},
         |qres AS (
         | SELECT p.qid, p.bucket,
         |  list_transform(list_zip(q.qe, c.e), pp -> pp[1] - pp[2]) AS rq
         | FROM qprobe p JOIN q ON q.qid = p.qid JOIN cent c ON c.d = p.bucket),
         |lut AS (SELECT t.qid, t.bucket, cs.sub, cs.j AS code,
         |  CAST(floor((list_dot_product(cs.ce, cs.ce)
         |      - list_dot_product(list_slice(t.rq, cs.sub*8 + 1, (cs.sub+1)*8), cs.ce) * 2.0
         |    ) * 1000000.0) AS BIGINT)
         |  + CASE WHEN cs.sub = 0
         |      THEN CAST(floor(list_dot_product(t.rq, t.rq) * 1000000.0) AS BIGINT)
         |      ELSE 0 END AS lut_u
         | FROM qres t CROSS JOIN csub cs),
         |sc AS (SELECT l.qid, a.vec_id, CAST(sum(l.lut_u) AS BIGINT) AS dist_u
         | FROM assign a
         |  JOIN enc e ON e.vec_id = a.vec_id
         |  JOIN lut l ON l.bucket = a.bucket AND l.sub = e.sub AND l.code = e.code
         | WHERE a.vec_id <> l.qid
         | GROUP BY 1, 2),
         |rk AS (SELECT qid, vec_id, dist_u,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist_u, vec_id) AS rank
         | FROM sc)""".stripMargin

  /** Polygon-fill oracle: every cell of the res grid (no bbox, no cover
    * machinery) whose CENTER passes [[insideSql]], encoded by a direct
    * xi/yi interleave where the engine re-encodes the center through
    * cell_id — equal because a center sits 0.5 index units from every
    * floor boundary. */
  private def polygonFillSql(poly: Seq[(Double, Double)], res: Int): String = {
    val n = (1L << res).toDouble
    s"""WITH c AS (SELECT xi, yi,
       |  (CAST(xi AS DOUBLE) + 0.5) / $n * 360.0 - 180.0 AS lonc,
       |  90.0 - (CAST(yi AS DOUBLE) + 0.5) / $n * 180.0 AS latc
       | FROM range(0, ${1L << res}) xs(xi), range(0, ${1L << res}) ys(yi))
       |SELECT ${sqlInterleave("xi", "yi", res)} AS cell FROM c
       |WHERE ${insideSql(poly, "latc", "lonc")}""".stripMargin
  }

  /** Strict-interior SQL predicate for a point (`latE`, `lonE`) in the
    * simple ring `poly`, written from the textbook definitions alone:
    * the parity of the ring's crossings strictly right of the point on its
    * latitude (PNPOLY: an edge counts iff exactly one endpoint lies above
    * the point), and NOT on any edge (zero cross product inside the
    * edge's bounding box). Vertices are DOUBLE literals, so DuckDB and the
    * JVM subtract the same doubles. */
  private def insideSql(poly: Seq[(Double, Double)], latE: String, lonE: String): String = {
    def d(v: Double) = s"CAST('$v' AS DOUBLE)"
    val edges = (poly :+ poly.head).sliding(2).map { case Seq((x0, y0), (x1, y1)) =>
      (d(x0), d(y0), d(x1), d(y1))
    }.toSeq
    val crossings = edges.map { case (x0, y0, x1, y1) =>
      s"CASE WHEN ($y0 > $latE) <> ($y1 > $latE)" +
        s" AND $lonE < $x0 + ($latE - $y0) / ($y1 - $y0) * ($x1 - $x0) THEN 1 ELSE 0 END"
    }.mkString("\n   + ")
    val onEdge = edges.map { case (x0, y0, x1, y1) =>
      s"(($x1 - $x0) * ($latE - $y0) = ($y1 - $y0) * ($lonE - $x0)" +
        s" AND $lonE BETWEEN LEAST($x0, $x1) AND GREATEST($x0, $x1)" +
        s" AND $latE BETWEEN LEAST($y0, $y1) AND GREATEST($y0, $y1))"
    }.mkString("\n   OR ")
    s"(($crossings) % 2 = 1\n AND NOT ($onEdge))"
  }

  /** Unrolled cover-compaction oracle: per level, parents with all 4
    * children present collapse; the chain runs res → minRes like the
    * pagerank/bpe_train unrolled CTEs. */
  private def cellCompactSql(res: Int, minRes: Int): String = {
    val cover =
      s"""pts AS (SELECT $sqlLat AS lat, $sqlLon AS lon FROM documents),
         |rng AS (SELECT
         |  ${sqlXIndex("(lon - 2.0)", res)} AS x0, ${sqlXIndex("(lon + 2.0)", res)} AS x1,
         |  ${sqlYIndex("(lat + 2.0)", res)} AS y0, ${sqlYIndex("(lat - 2.0)", res)} AS y1
         | FROM pts),
         |cand AS (SELECT x0 + xs.d AS xi, y0 + ys.d AS yi, x1, y1
         | FROM rng, range(0, 16) xs(d), range(0, 16) ys(d)
         | WHERE x0 + xs.d <= x1 AND y0 + ys.d <= y1),
         |l$res AS (SELECT DISTINCT ${sqlInterleave("xi", "yi", res)} AS cell FROM cand)""".stripMargin
    val levels = (res until minRes by -1).map { r =>
      s"""c$r AS (SELECT cell // 4 AS parent, count(*) AS n FROM l$r GROUP BY 1),
         |k$r AS (SELECT l.cell, $r AS res FROM l$r l
         |  JOIN c$r c ON l.cell // 4 = c.parent WHERE c.n < 4),
         |l${r - 1} AS (SELECT parent AS cell FROM c$r WHERE n = 4)""".stripMargin
    }
    val unions = (res until minRes by -1).map(r => s"SELECT cell, res FROM k$r") :+
      s"SELECT cell, $minRes AS res FROM l$minRes"
    s"WITH $cover,\n${levels.mkString(",\n")}\n${unions.mkString("\nUNION ALL ")}"
  }

  /** Top-k first-iteration merges for [[TextOps.bpeEncode]], in rank order
    * (n DESC, pair — the bpePairCounts cut). The collect is bounded by k
    * (a merges table is vocab-sized by contract, like the IVF codebook);
    * pair components split on code points to stay astral-safe. */
  private def bpeMerges(s: SparkSession, dir: String, k: Int): IndexedSeq[(String, String)] =
    TextOps.bpePairCounts(docs(s, dir), k).collect().toIndexedSeq.map { r =>
      val cps = r.getString(0).codePoints().toArray
      (new String(Character.toChars(cps(0))), new String(Character.toChars(cps(1))))
    }
  private def emb(s: SparkSession, dir: String) = spreadRead(s, s"$dir/embeddings.parquet")
  private def li(s: SparkSession, dir: String) = s.read.parquet(s"$dir/lineitem.parquet")
  private def ord(s: SparkSession, dir: String) = s.read.parquet(s"$dir/orders.parquet")
  private def cust(s: SparkSession, dir: String) = s.read.parquet(s"$dir/customer.parquet")
  private def events(s: SparkSession, dir: String) = s.read.parquet(s"$dir/events.parquet")

  /** The deterministic 80/10/10 train/val/test split of a document by its
    * h60(doc_id) mod 100 bucket (pipeline_e2e, dataset_split). */
  private val docSplit: Column = {
    val bucket = pmod(TextOps.fingerprintCol(col("doc_id").cast("string")), lit(100))
    when(bucket < 80, lit("train")).when(bucket < 90, lit("val")).otherwise(lit("test"))
  }

  /** floor(x·1e6) as bigint — the cross-engine-stable fixed-point encode. */
  private def fp6(c: Column): Column = floor(c * lit(1000000.0)).cast("long")

  /** Exactly 20 tokens — two full 10-token chunks — planted as a shared
    * prefix on every 3rd doc for `chunk_dedup` (query and oracle both
    * derive the planted text from this one literal). */
  private val ChunkFooter =
    "site nav home about contact login search help terms privacy " +
      "copyright footer menu link page news blog shop cart faq"

  /** Exactly 10 tokens, planted TWICE as a prefix on every 4th doc for
    * `intradoc_dedup` — its second 10-token chunk is a within-document
    * repeat of the first (query and oracle share this one literal). */
  private val IntraPhrase =
    "subscribe banner cookie notice accept decline newsletter promo advert close"

  // Deterministic lat/lon derived from doc_id (same arithmetic in oracles).
  private val dLat: Column = lit(-85.0) + (col("doc_id") * lit(104729L) % lit(17000L)).cast("double") / lit(100.0)
  private val dLon: Column = lit(-180.0) + (col("doc_id") * lit(7919L) % lit(36000L)).cast("double") / lit(100.0)
  private val sqlLat = "(-85.0 + (doc_id * 104729 % 17000) / 100.0)"
  private val sqlLon = "(-180.0 + (doc_id * 7919 % 36000) / 100.0)"

  // Second derivation for the knn_large QUERY side (distinct from the
  // points side so queries don't sit exactly on points).
  private val qLat: Column = lit(-80.0) + (col("doc_id") * lit(92821L) % lit(16000L)).cast("double") / lit(100.0)
  private val qLon: Column = lit(-175.0) + (col("doc_id") * lit(54881L) % lit(35000L)).cast("double") / lit(100.0)
  private val sqlQLat = "(-80.0 + (doc_id * 92821 % 16000) / 100.0)"
  private val sqlQLon = "(-175.0 + (doc_id * 54881 % 35000) / 100.0)"

  // points mapped into the lux raster extent (for the tile join / knn-in-extent)
  private val lLon: Column = lit(Fixtures.LuxOriginX) + (col("doc_id") * lit(7919L) % lit(10000L)).cast("double") / lit(10000.0) * lit(0.043388628)
  private val lLat: Column = lit(50.099582385) + (col("doc_id") * lit(104729L) % lit(10000L)).cast("double") / lit(10000.0) * lit(0.019403610)
  private val sqlLLon = s"(${OracleSql.C} + (doc_id * 7919 % 10000) / 10000.0 * 0.043388628)"
  private val sqlLLat = "(50.099582385 + (doc_id * 104729 % 10000) / 10000.0 * 0.019403610)"

  /** DuckDB query: the lux1 whole_overlap 128/128 grid with world bounds. */
  private val sqlTileGrid: String = OracleSql.sqlTileGrid(128, 128, "whole_overlap")

  /** DuckDB fragment: morton cell id at `res` from integer xi/yi columns. */
  private def sqlInterleave(xi: String, yi: String, res: Int): String =
    s"""(SELECT CAST(SUM((( ($xi) >> b.b) & 1) * (1::BIGINT << (2*b.b + 1)) +
       |                 ((( $yi) >> b.b) & 1) * (1::BIGINT << (2*b.b))) AS BIGINT)
       | FROM range(0, $res) b(b))""".stripMargin.replace("\n", " ")

  private def sqlXIndex(lon: String, res: Int): String =
    s"LEAST(GREATEST(CAST(FLOOR(($lon + 180.0) / 360.0 * ${(1L << res).toDouble}) AS BIGINT), 0), ${(1L << res) - 1})"
  private def sqlYIndex(lat: String, res: Int): String =
    s"LEAST(GREATEST(CAST(FLOOR((90.0 - $lat) / 180.0 * ${(1L << res).toDouble}) AS BIGINT), 0), ${(1L << res) - 1})"

  // ======================================================================
  // queries
  // ======================================================================

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational engine basics (Catalyst pushdown/prune/join/window) --
    "q1_agg" -> ((s, dir) =>
      li(s, dir).groupBy("l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("n"),
        fp6(sum("l_quantity")).as("sum_qty_fp"),
        fp6(sum("l_extendedprice")).as("sum_price_fp"),
        fp6(max("l_discount")).as("max_disc_fp"))),

    "q3_join_topk" -> ((s, dir) => {
      val revenue = li(s, dir)
        .join(ord(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_lines"),
          fp6(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_fp"))
      revenue.orderBy(col("c_mktsegment"))
    }),

    "q_window_rank" -> ((s, dir) =>
      ord(s, dir)
        .withColumn("rn", row_number().over(
          WExpr.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))))
        .where(col("rn") <= 2)
        .select("o_custkey", "rn", "o_orderkey")),

    "q_events_hourly" -> ((s, dir) =>
      events(s, dir).groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), fp6(sum("value")).as("sum_value_fp"))),

    // gap-based sessionization (30-min timeout): one user-partitioned
    // window + rollup, single exchange on user_id
    "sessionize" -> ((s, dir) => EventOps.sessionize(events(s, dir))),

    // weekly retention matrix: cohort by first-activity week, count users
    // active k weeks later — integer-exact epoch-week arithmetic
    "retention_cohorts" -> ((s, dir) => EventOps.retentionCohorts(events(s, dir))),

    // point-in-time join: every click attached to the user's most recent
    // prior-or-coincident purchase — union-marker carry-forward (one
    // exchange, no range join); oracle = DuckDB's NATIVE ASOF LEFT JOIN
    "asof_join" -> ((s, dir) => EventOps.asofJoin(events(s, dir), "click", "purchase")),

    // ordered conversion funnel signup→view→click→purchase (strictly
    // increasing microsecond timestamps advance a user)
    "funnel" -> ((s, dir) => EventOps.funnel(events(s, dir),
      Seq("signup", "view", "click", "purchase"))),

    // ---- W1/W2: sliding-window grid + window→geometry ---------------------
    "tile_grid" -> ((s, _) => {
      import s.implicits._
      val (c, a) = (lit(Fixtures.LuxOriginX), lit(Fixtures.LuxPxX))
      val (f, e) = (lit(Fixtures.LuxOriginY), lit(Fixtures.LuxPxY))
      val meta = Seq((Fixtures.LuxWidth, Fixtures.LuxHeight)).toDF("w", "h")
      meta.select(TileWindowsGenerator.tile_windows(
          col("w"), col("h"), lit(128), lit(128), lit("whole_overlap")))
        .withColumn("minx", c + col("col_off") * a)
        .withColumn("miny", f + (col("row_off") + col("win_height")) * e)
        .withColumn("maxx", c + (col("col_off") + col("win_width")) * a)
        .withColumn("maxy", f + col("row_off") * e)
    }),

    // ---- G6: cell id / cover / kring -------------------------------------
    "cell_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), dLat.as("lat"), dLon.as("lon"))
        .withColumn("cell", CellFunctions.cell_id(col("lat"), col("lon"), lit(12)))
        .select("doc_id", "cell")),

    "cell_cover" -> ((s, _) => {
      val meta = Fixtures.luxMeta()
      PagesTiling.tileCells(s, meta,
          PagesTiling.TilingConfig(cellRes = 16))
        .select(col("i"), col("j"), col("cell"))
    }),

    // multi-resolution density pyramid (the web-map tile-pyramid build):
    // res-8 point counts rolled up level by level — each level aggregates
    // the PREVIOUS level's ≤4^r rows, so total work is geometric in the
    // base table, and the corpus is scanned exactly once
    "cell_pyramid" -> ((s, dir) => {
      var cur = docs(s, dir)
        .select(CellFunctions.cell_id(dLat, dLon, lit(8)).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n"))
      var out = cur.withColumn("res", lit(8))
      for (r <- 7 to 4 by -1) {
        cur = cur.select(shiftright(col("cell"), 2).as("cell"), col("n"))
          .groupBy("cell").agg(sum("n").as("n"))
        out = out.unionByName(cur.withColumn("res", lit(r)))
      }
      out.select("res", "cell", "n")
    }),

    // polygon → cell fill (H3 polygonToCells, center-containment rule):
    // each bbox row's boundary crossings become column intervals on the
    // driver, exploded into cells re-encoded through the cell_id codegen
    // path — one scanline for the convex pentagon and the concave L
    "polygon_fill" -> ((s, _) => CellOps.polygonFill(s, pipPentagon, res = 6)),
    "polygon_fill_concave" -> ((s, _) => CellOps.polygonFill(s, concaveL, res = 6)),

    // ---- G12: cell-indexed PIP join (cover classify + boundary sliver) ---
    // the production spatial-join pattern: the polygon's cover cells are
    // classified interior/boundary and broadcast; the corpus pays ONE cell
    // equi-join, and the exact crossing predicate runs only on points in
    // boundary cells (the O(perimeter) sliver) — pip_aoi's whole-scan
    // predicate becomes index work. Result set is exactly the strict
    // interior regardless of the cover (coverClassify's margin guard), so
    // the oracle checks it with an independent plain predicate scan.
    "pip_cell_join" -> ((s, dir) => {
      val cover = CellOps.coverClassify(s, concaveL, res = 7)
      val pts = docs(s, dir).select(col("doc_id"), dLat.as("lat"), dLon.as("lon"))
        .withColumn("cell", CellFunctions.cell_id(col("lat"), col("lon"), lit(7)))
      pts.join(broadcast(cover), Seq("cell"))
        .where(col("interior") ||
          CellOps.insidePredicate(concaveL, col("lat"), col("lon")))
        .select("doc_id")
    }),

    // canonical cover compaction (H3 compactCells / S2 Normalize): the
    // union of 4°×4° per-doc covers at res 8, complete sibling quads
    // collapsed to parents down to res 4 — area-exact, minimal
    "cell_compact" -> ((s, dir) => {
      val cov = docs(s, dir).select(explode(CellFunctions.cell_cover(
        dLat - lit(2.0), dLon - lit(2.0), dLat + lit(2.0), dLon + lit(2.0),
        lit(8))).as("cell"))
      CellOps.compactCells(cov, res = 8, minRes = 4)
    }),

    // ---- G13: global Moran's I over the res-5 density grid --------------
    // spatial autocorrelation as exact integer components (num/den/W/N);
    // ONE corpus scan into a cell histogram, then cell-sized self-join
    "moran_i" -> ((s, dir) => CellOps.moranI(
      docs(s, dir).select(dLat.as("lat"), dLon.as("lon")), res = 5)),

    // ---- G14: grid-DBSCAN hotspot clusters at res 4, density ≥ 3 --------
    "cell_clusters" -> ((s, dir) => CellOps.cellClusters(
      docs(s, dir).select(dLat.as("lat"), dLon.as("lon")), res = 4, minCount = 3)),

    // ---- G15: focal statistics (3×3 queen sum/count per occupied cell) --
    "cell_focal" -> ((s, dir) => CellOps.cellFocal(
      docs(s, dir).select(dLat.as("lat"), dLon.as("lon")), res = 5)),

    "kring" -> ((s, dir) =>
      docs(s, dir).where(col("doc_id") < 50)
        .select(col("doc_id"), dLat.as("lat"), dLon.as("lon"))
        .withColumn("cell", CellFunctions.cell_id(col("lat"), col("lon"), lit(8)))
        .withColumn("nbr", explode(CellFunctions.k_ring(col("cell"), lit(1), lit(8))))
        .select("doc_id", "cell", "nbr")),

    // ---- G3: point-in-polygon against a broadcast prepared geometry ------
    "pip_aoi" -> ((s, dir) => {
      // convex pentagon; JTS prepared-geometry containment on the Spark side
      val poly = Geom.polygon(pipPentagon)
      val wkb = Geom.toWkb(poly)
      val contains = udf { (lat: Double, lon: Double) =>
        PipCache.get(wkb).contains(
          Geom.factory.createPoint(new org.locationtech.jts.geom.Coordinate(lon, lat)))
      }
      docs(s, dir).select(col("doc_id"), dLat.as("lat"), dLon.as("lon"))
        .where(contains(col("lat"), col("lon")))
        .select("doc_id")
    }),

    // ---- G2: pages→tiles spatial join (cell cover + exact refine) --------
    "spatial_join_tiles" -> ((s, dir) => {
      val meta = Fixtures.luxMeta()
      val cfg = PagesTiling.TilingConfig(cellRes = 16)
      val pts = docs(s, dir).select(col("doc_id"), lLat.as("lat"), lLon.as("lon"))
        .withColumn("cell", CellFunctions.cell_id(col("lat"), col("lon"), lit(cfg.cellRes)))
      val tiles = PagesTiling.tileCells(s, meta, cfg)
      pts.join(tiles, Seq("cell"))
        .where(col("lon") >= col("minx") && col("lon") < col("maxx") &&
               col("lat") <= col("maxy") && col("lat") > col("miny"))
        .select("doc_id", "i", "j")
    }),

    // ---- G4: kNN ring expansion ------------------------------------------
    "knn" -> ((s, dir) => {
      import s.implicits._
      val queries = knnQueryPoints.toDF("qid", "qlat", "qlon")
      val points = docs(s, dir).select(col("doc_id").as("id"), dLat.as("lat"), dLon.as("lon"))
      Knn.knnRingExpansion(s, points, queries, k = 5, res = 4)
        .select(col("qid"), col("rank"), col("id"), fp6(col("dist2")).as("dist2_fp"))
    }),

    // ---- G4 at scale: kNN with a LARGE (never collected) query set --------
    // every document doubles as a query point (different coordinate derivation
    // than the points side) — the pipeline shape the round-3 verdict flagged:
    // 10⁵ queries joined distributively, per-query adaptive expansion,
    // one per-query top-k window (partial group limit before the shuffle)
    "knn_large" -> ((s, dir) => {
      val points = docs(s, dir).select(col("doc_id").as("id"), dLat.as("lat"), dLon.as("lon"))
      val queries = docs(s, dir).select(col("doc_id").as("qid"),
        qLat.as("qlat"), qLon.as("qlon"))
      Knn.knnLarge(s, points, queries, k = 3, res = 4)
        .select(col("qid"), col("rank"), col("id"), fp6(col("dist2")).as("dist2_fp"))
    }),

    // ---- M12: closed-form reprojection 4326→3857 --------------------------
    // fixed-point at 1e2 (cm): tan/ln differ by ≤1 ulp across libm builds,
    // so the 1e6 scale occasionally straddles a floor boundary
    "reproject_3857" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), dLat.as("lat"), dLon.as("lon"))
        .select(col("doc_id"),
          floor(radians(col("lon")) * lit(graft.core.Mercator.R) * lit(100.0)).cast("long").as("x_fp"),
          floor(log(tan(lit(math.Pi / 4.0) + radians(col("lat")) / lit(2.0))) * lit(graft.core.Mercator.R) * lit(100.0)).cast("long").as("y_fp"))),

    // ---- A1: global per-band min/max over the raster tile table ----------
    "raster_minmax" -> ((s, _) => {
      val tiles = Fixtures.luxTiles(s)
      tiles.toDF()
        .select(posexplode(col("pixels")).as(Seq("band0", "vals")))
        .select(col("band0") + lit(1) as "band", explode(col("vals")).as("v"))
        .groupBy("band")
        .agg(fp6(min(col("v")).cast("double")).as("min_fp"),
          fp6(max(col("v")).cast("double")).as("max_fp"),
          count(lit(1)).as("n_px"))
    }),

    // ---- dedup family ------------------------------------------------------
    "dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir))),
    "dedup_minhash" -> ((s, dir) => Dedup.minhashSignatures(docs(s, dir))),
    "dedup_minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(docs(s, dir), minJaccard = 0.4)),
    "dedup_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(docs(s, dir), w = 5, minJaccard = 0.25)),
    "dedup_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir))),
    "dedup_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(docs(s, dir), maxHamming = 12)),
    // pairs → keepers: connected components over the simhash near-dup
    // graph (min-label propagation); every doc maps to its component's min
    // doc_id, singletons to themselves
    "dedup_clusters" -> ((s, dir) => {
      val cc = Dedup.connectedComponents(Dedup.simhashPairs(docs(s, dir), maxHamming = 12))
      docsPlain(s, dir).select(col("doc_id"))
        .join(broadcast(cc.select(col("node").as("doc_id"), col("label"))), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_rep"))
    }),

    // canonical keeper per near-dup cluster (longest member, id ties) —
    // the hot-key-safe min-struct argmax, one map-side-combined pass.
    // docsPlain on the metadata sides: the id join and the n_chars
    // broadcast build re-exchange/collect immediately, so the spread hop
    // is pure cost there (the simhash pipeline input keeps the spread)
    "dedup_keep_best" -> ((s, dir) => {
      val cc = Dedup.connectedComponents(Dedup.simhashPairs(docs(s, dir), maxHamming = 12))
      val clusters = docsPlain(s, dir).select(col("doc_id"))
        .join(broadcast(cc.select(col("node").as("doc_id"), col("label"))), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_rep"))
      Dedup.keepBest(clusters, docsPlain(s, dir))
    }),
    // banded sign-LSH near-dup pairs (6 bands of 4 sign bits; candidate iff
    // SOME band key matches → exact cosine verify). The oracle reproduces
    // the SAME deterministic hyperplanes as SQL literals, so both engines
    // block identically — and the Spark plan is a hash equi-join on
    // (band, key), never an all-pairs nested loop. Banding lifts candidate
    // recall at tau=0.2 from 0.015 (old all-24-bits-equal form) to ~0.5
    // (EmbeddingRecallSpec pins it against exact all-pairs ground truth).
    "dedup_embedding" -> ((s, dir) => {
      val v = emb(s, dir).select(col("vec_id"), col("embedding"))
      Similarity.cosinePairs(v, tau = 0.2, dim = 64)
        .select(col("vec_a"), col("vec_b"), fp6(col("cos")).as("cos_fp"))
    }),
    // semantic decontamination: the embedding-space sibling of the n-gram
    // decontaminate — training vectors within cosine 0.2 of the eval slice
    // (vec_id % 11 == 0), eval band rows broadcast, corpus buckets capped
    "decontaminate_semantic" -> ((s, dir) => {
      val all = emb(s, dir).select(col("vec_id"), col("embedding"))
      val evalSet = all.where(col("vec_id") % 11 === 0)
        .select(col("vec_id").as("eval_id"), col("embedding"))
      val corpus = all.where(col("vec_id") % 11 =!= 0)
      Similarity.crossCosinePairs(corpus, evalSet, tau = 0.2, dim = 64)
        .select(col("vec_id"), col("eval_id"), fp6(col("cos")).as("cos_fp"))
    }),

    // perceptual image near-dup dedup: REAL PNG decode → 60-bit dHash
    // (11×6 nearest-sampled gray grid, horizontal gradient bits) → the
    // generic quarter-split hamming pair machinery (Dedup.hammingPairs).
    // Images are planted in groups of 5 byte-identical payloads whose
    // last member carries a one-pixel edit (dHash distance ≤ 1); the
    // oracle replays the dHash analytically from the synth pixel formula —
    // the decode is real, so a broken codec path cannot match it.
    "image_dedup" -> ((s, dir) => {
      import s.implicits._
      val hashes = Multimodal.nearDupImagesFromDocs(s, docs(s, dir))
        .mapPartitions(_.map(r => (r.doc_id, Multimodal.dHash60(r.payload))))
        .toDF("id", "h")
      // maxHamming=6 > the quarter-split's certainty radius of 3: pairs
      // whose 4..6 differing bits span all four quarters are missed by
      // contract (Dedup.hammingPairs recall note; DedupSpec pins both
      // sides of the trade) — the perceptual-dup regime this query
      // targets concentrates edits locally, where some quarter survives
      Dedup.hammingPairs(hashes, maxHamming = 6)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
    }),
    // perceptual audio near-dup dedup: REAL WAV decode → 60-bit gradient
    // hash over 61 nearest-sampled positions → the same quarter-split
    // hamming machinery. Groups of 4 identical WAVs, last member carries a
    // one-sample t=0 edit (hamming ≤ 1); the oracle replays the hash
    // analytically from the synth sample formula.
    "audio_dedup" -> ((s, dir) => {
      import s.implicits._
      val hashes = Multimodal.nearDupAudioFromDocs(s, docs(s, dir))
        .mapPartitions(_.map(r => (r.doc_id, Multimodal.aHash60(r.payload))))
        .toDF("id", "h")
      // maxHamming=4: one past the certainty radius — 4-bit pairs
      // touching all four quarters are missed by contract (see
      // image_dedup's note and Dedup.hammingPairs' recall contract)
      Dedup.hammingPairs(hashes, maxHamming = 4)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
    }),

    // ---- similarity search -------------------------------------------------
    "ann_topk" -> ((s, dir) => {
      val v = emb(s, dir).select(col("vec_id"), col("embedding"))
      val q = emb(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteTopK(v, q, k = 10)
        .select(col("qid"), col("rank"), col("vec_id"), fp6(col("cos")).as("cos_fp"))
    }),
    "ann_ivf" -> ((s, dir) => {
      val v = emb(s, dir).select(col("vec_id"), col("embedding"))
      val q = emb(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(v, q, k = 10, dim = 64)
        .select(col("qid"), col("rank"), col("vec_id"), fp6(col("cos")).as("cos_fp"))
    }),
    // product quantization: 64 floats → 8 codes (one per subspace); a
    // zero-shuffle codegen scan
    "pq_encode" -> ((s, dir) =>
      Similarity.pqEncode(emb(s, dir).select(col("vec_id"), col("embedding")))),
    // ADC top-k over the PQ codes: broadcast lut equi-join + integer sum
    "pq_topk" -> ((s, dir) => {
      val v = emb(s, dir).select(col("vec_id"), col("embedding"))
      val q = emb(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.pqTopK(v, q, k = 10)
    }),
    // IVFADC: coarse quantizer + ksub=256 RESIDUAL product quantization,
    // asymmetric-distance scored with the per-bucket |r_q|² bias folded in
    // (ranking comparable across probed buckets) — the composed index a
    // production embedding column ships with
    "ivfpq_topk" -> ((s, dir) => {
      val v = emb(s, dir).select(col("vec_id"), col("embedding"))
      val q = emb(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfpqTopK(v, q, k = 10)
    }),
    // two-stage retrieve: the top 4k ADC candidates re-scored with EXACT
    // squared L2 from the uncompressed vectors (broadcast candidate list →
    // one semi-joined scan), the standard IVFADC refine stage
    "ivfpq_rerank" -> ((s, dir) => {
      val v = emb(s, dir).select(col("vec_id"), col("embedding"))
      val q = emb(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfpqRerank(v, q, k = 10, kPrime = 40)
    }),

    // hybrid geo+semantic retrieval: the cell index generates spatial
    // candidates (kRing-2 membership as a broadcast cell equi-join — the
    // spatial_join_tiles shape) and the embedding family re-ranks them by
    // exact cosine — both index families composed in ONE plan. Queries =
    // the first 5 docs (their location AND their embedding); at 100 TB
    // the corpus side pays one cell-pruned scan + a candidate-sized
    // cosine stage, never a global ANN pass.
    "geo_semantic_topk" -> ((s, dir) => {
      val pts = docs(s, dir).select(col("doc_id"),
        CellFunctions.cell_id(dLat, dLon, lit(4)).as("cell"))
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val qring = pts.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          explode(CellFunctions.k_ring(col("cell"), lit(2), lit(4))).as("cell"))
      val cand = pts.join(broadcast(qring), Seq("cell"))
        .where(col("doc_id") =!= col("qid"))
        .select("qid", "doc_id")
      val qe = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val scored = cand.join(e, cand("doc_id") === e("vec_id"))
        .join(broadcast(qe), Seq("qid"))
        .withColumn("cos", Similarity.cosine(col("embedding"), col("qvec")))
      val w = WExpr.partitionBy(col("qid")).orderBy(col("cos").desc, col("doc_id"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("doc_id"), fp6(col("cos")).as("cos_fp"))
    }),

    // ---- link-graph analytics ---------------------------------------------
    // domain PageRank as a curation weight: exact integer micro-units (per-
    // edge contributions floored BEFORE the sum, integer jump constant), so
    // ten distributed power iterations hash-match the oracle's ten unrolled
    // CTE rounds exactly; the corpus collapses to the 97-domain edge table
    // before the loop — iteration shuffles are graph-sized
    "domain_pagerank" -> ((s, dir) =>
      Graph.pageRank(Graph.domainLinkGraph(docs(s, dir)), iters = 10)),

    // HITS hubs & authorities over the same domain graph — integer
    // max-normalized rounds (the pagerank determinism family)
    "domain_hits" -> ((s, dir) =>
      Graph.hits(Graph.domainLinkGraph(docs(s, dir)), iters = 10)),

    // ---- text analysis -----------------------------------------------------
    "token_count" -> ((s, dir) => TextOps.tokenCounts(docs(s, dir))),
    "lang_id" -> ((s, dir) => TextOps.langId(docs(s, dir))),
    "text_quality" -> ((s, dir) =>
      TextOps.qualityScore(docs(s, dir))
        .withColumn("mean_token_len", fp6(col("mean_token_len")))
        .withColumnRenamed("mean_token_len", "mean_token_len_fp")),
    // Gopher repetition+format filters (Rae et al. 2021 §A1.1) — integer
    // signals only, so the hash gate is engine-exact
    "text_quality_gopher" -> ((s, dir) => TextOps.gopherQuality(docs(s, dir))),
    // model-based quality (the CCNet/fastText stage): hashed-bigram linear
    // classifier distilled from the heuristic's weak labels on the
    // doc_id%5 slice — one integer gradient step (= Σ y·x at w=0), weights
    // broadcast, zero-shuffle scoring map
    "model_quality" -> ((s, dir) => TextOps.modelQuality(docs(s, dir))),
    // unigram-LM perplexity filter (CCNet): hashed-unigram LM trained on
    // the src0 in-domain slice, per-doc mean token surprisal in integer
    // micro-bits — floor(log2(num/den)) computed exactly as
    // bitlen(num div den) − 1, log-free like token_drift, so the hash
    // gate is engine-exact
    "lm_perplexity" -> ((s, dir) =>
      TextOps.lmPerplexity(docs(s, dir), col("source") === "src0")),
    // eval-set decontamination: deterministic benchmark slice (doc_id%53),
    // 5-gram overlap; the benchmark docs flag themselves plus any
    // training doc sharing a 5-gram (the fixture's planted near-dups)
    "decontaminate" -> ((s, dir) =>
      TextOps.decontaminate(docs(s, dir),
        docs(s, dir).where(col("doc_id") % 53 === 0), w = 5)),
    "doc_fingerprint" -> ((s, dir) => TextOps.fingerprints(docs(s, dir))),
    "doc_fingerprint_rolling" -> ((s, dir) => TextOps.rollingFingerprints(docs(s, dir))),
    // end-to-end composition: the pipeline ops chained the way a real
    // training-data job runs them — inject noise → PII-redact → token-count
    // the SCRUBBED text → quality-filter → hash-split → per-split stats.
    // The oracle replays every stage analytically (redaction adds exactly
    // 'contact <EMAIL> now' (+3 tokens) and optionally 'call <PHONE>' (+2))
    "pipeline_e2e" -> ((s, dir) => {
      val noisy = docs(s, dir).withColumn("text",
        concat(col("text"),
          lit(" contact user"), col("doc_id") % 50,
          lit("@mail"), col("doc_id") % 7, lit(".com now"),
          when(col("doc_id") % 4 === 0, lit(" call 555-123-4567")).otherwise(lit(""))))
      val clean = TextOps.redactPii(noisy)
      val counted = clean.withColumn("n_tokens", size(split(col("text"), " ")))
        .where(col("n_tokens") >= 20)
      counted.withColumn("split", docSplit)
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
    }),

    // the modern curation recipe end-to-end (RefinedWeb/FineWeb shape):
    // cross-corpus dedup -> Gopher quality gate -> deterministic
    // per-language downsampling -> per-source report, one composed plan
    "pipeline_llm" -> ((s, dir) => {
      val d = docs(s, dir)
      val survivors = Dedup.crossCorpus(d, d.where(col("doc_id") % 5 === 0))
        .select("doc_id")
      val fresh = d.join(survivors, Seq("doc_id"))
      val ok = TextOps.gopherQuality(fresh).where(col("gopher_ok"))
        .select(col("doc_id"), col("n_words"))
      val gated = fresh.join(ok, Seq("doc_id"))
      TextOps.stratifiedSample(gated, Map("en" -> 0.5), 1.0)
        .join(gated.select("doc_id", "n_words"), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_words").as("sum_words"))
    }),

    // sequence packing: global-order sequential fill into 256-token bins
    // via a distributed prefix sum (per-partition totals + broadcast
    // offsets — never a single-task global window); per-bin stats are the
    // audit surface and the result is partition-count-invariant
    "sequence_pack" -> ((s, dir) =>
      TextOps.packSequences(docs(s, dir), capacity = 256)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))),

    // PII redaction: deterministic email + (on every 4th doc) phone noise
    // is appended to each text; the codegen regex pass must find and
    // replace exactly it — the oracle predicts counts and the scrubbed
    // length analytically (base texts contain no '@' and no phone-shaped
    // digit runs, so the injected noise is the complete match set)
    "pii_redact" -> ((s, dir) => {
      val noisy = docs(s, dir).withColumn("text",
        concat(col("text"),
          lit(" contact user"), col("doc_id") % 50,
          lit("@mail"), col("doc_id") % 7, lit(".com now"),
          when(col("doc_id") % 4 === 0, lit(" call 555-123-4567")).otherwise(lit(""))))
      TextOps.redactPii(noisy)
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          length(col("text")).as("redacted_len"))
    }),

    // deterministic train/val/test split: engine-portable hash bucket
    // (md5-60bit mod 100 — the same h60 the dedup family uses) so the
    // assignment is reproducible across engines, runs, and partitionings;
    // 80/10/10 by bucket. Split sizes and id-sums are the audit surface.
    "dataset_split" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), docSplit.as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
    }),

    // canonical-URL dedup: deterministically MESSY urls per doc (upper-case
    // scheme/host on every 3rd, explicit :443 on every 2nd, utm param on
    // every 5th, fragment on every 7th) must collapse to the clean form the
    // oracle derives directly from doc_id — real java.net.URI parsing
    "url_dedup" -> ((s, dir) => {
      val m = col("doc_id") % 200
      val messy = concat(
        when(col("doc_id") % 3 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://"),
        when(col("doc_id") % 3 === 0, concat(upper(col("source")), lit(".EXAMPLE.COM")))
          .otherwise(concat(col("source"), lit(".example.com"))),
        when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
        lit("/p"), m,
        when(col("doc_id") % 5 === 0, concat(lit("?utm_source=feed&q="), m % 10))
          .otherwise(concat(lit("?q="), m % 10)),
        when(col("doc_id") % 7 === 0, lit("#sec")).otherwise(lit("")))
      TextOps.urlDedup(docs(s, dir).select(col("doc_id"), messy.as("url")))
    }),

    // cross-corpus incremental dedup: new crawl = the whole corpus, prior
    // snapshot = the doc_id%5 slice; Bloom-prefiltered exact anti-join on
    // 60-bit fingerprints (stage-2 verify makes the Bloom's fpp invisible
    // to the result — survivors are exactly the NOT-IN set)
    "cross_corpus_dedup" -> ((s, dir) =>
      Dedup.crossCorpus(docs(s, dir),
        docs(s, dir).where(col("doc_id") % 5 === 0))),

    // chunk-level exact dedup (Lee et al. boilerplate pass): every 3rd doc
    // gets the SAME 20-token footer PREFIX, so its first two 10-token
    // chunks are corpus-wide duplicates; keep-first must leave them only
    // on the smallest planted doc_id (0)
    "chunk_dedup" -> ((s, dir) =>
      TextOps.chunkDedup(
        docs(s, dir).withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(lit(ChunkFooter + " "), col("text"))).otherwise(col("text"))),
        chunk = 10)),

    // content-defined chunking dedup: rolling-3-token-hash boundaries
    // (h60 % 8 == 0 ends a chunk) instead of chunk_dedup's fixed grid —
    // insert/delete shifts only the chunks it touches, boundaries
    // resynchronize (TextOpsSpec measures the edit-robustness gap); same
    // planted footer corpus and keeper rule as chunk_dedup
    "cdc_chunk_dedup" -> ((s, dir) =>
      TextOps.cdcChunkDedup(
        docs(s, dir).withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(lit(ChunkFooter + " "), col("text"))).otherwise(col("text"))))),

    // deterministic per-language stratified sampling: downsample the
    // over-represented en (40%) and zh (80%), keep the rest — selection by
    // salted md5 bucket, zero shuffle, reproducible across engines
    "stratified_sample" -> ((s, dir) =>
      TextOps.stratifiedSample(docs(s, dir),
        rates = Map("en" -> 0.4, "zh" -> 0.8), defaultRate = 1.0)),
    // derandomized priority sampling: per-source top-50 by w/u priority —
    // inclusion probability proportional to token mass, no RNG
    "weighted_sample" -> ((s, dir) => TextOps.prioritySample(docs(s, dir), k = 50)),
    // distribution-shift monitor: per-source chi-square vs the global
    // hashed token-bucket histogram, integer micro-units (log-free)
    "token_drift" -> ((s, dir) => TextOps.tokenDrift(docs(s, dir))),

    // DSIR importance scores against the source='src0' in-domain slice:
    // hashed-bigram 64-bucket target histogram, broadcast; one zero-shuffle
    // corpus pass
    "dsir_score" -> ((s, dir) =>
      TextOps.dsirScore(docs(s, dir), col("source") === "src0")),

    // per-domain curation report: docs / token mass / quality passes /
    // language spread per source, one map-side-combined groupBy
    "domain_stats" -> ((s, dir) => TextOps.domainStats(docs(s, dir))),

    // corpus vocabulary: exact top-100 tokens by occurrence, tie-broken by
    // token so the k-boundary is engine-deterministic
    "token_histogram" -> ((s, dir) => TextOps.tokenHistogram(docs(s, dir), k = 100)),

    // inverted index as a relation: (term, doc_id, tf) posting rows — one
    // map-side-combined aggregation over the exploded token stream
    "inverted_index" -> ((s, dir) => Search.invertedIndex(docs(s, dir))),

    // per-doc top-5 keywords by integer tf-idf (bit-length idf — exact,
    // no floating log); keyword enrichment before clustering/routing
    "tfidf_topk" -> ((s, dir) => TextOps.tfidfKeywords(docs(s, dir), k = 5)),

    // BM25 ranked retrieval: 4 fixed queries, top-10 docs each. Rational
    // idf + per-term micro-unit flooring keep the per-doc score an exact
    // integer sum (Search.bm25TopK), so ranking is engine-total
    "bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val q = Bm25Queries.toDF("qid", "qtext")
      Search.bm25TopK(docs(s, dir), q, k = 10)
    }),

    // cross-document substring overlap at stride 1: the planted footer
    // (every 3rd doc, same plant as chunk_dedup) plus the corpus's exact
    // duplicates must flag; windows a doc only repeats INTERNALLY must not
    "substring_dedup" -> ((s, dir) =>
      TextOps.substringDedup(
        docs(s, dir).withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(lit(ChunkFooter + " "), col("text"))).otherwise(col("text"))),
        window = 8)),

    // within-document repetition: every 4th doc gets the SAME 10-token
    // phrase planted twice, so its second chunk is a self-repeat; the
    // operator is a zero-shuffle typed map
    "intradoc_dedup" -> ((s, dir) =>
      TextOps.intraDocDedup(
        docs(s, dir).withColumn("text",
          when(col("doc_id") % 4 === 0,
            concat(lit(IntraPhrase + " " + IntraPhrase + " "), col("text")))
            .otherwise(col("text"))),
        chunk = 10)),

    // SemDeDup: nearest-centroid clusters (the ann_ivf codebook), then
    // cluster-local keep-lowest-id at cosine >= 0.2
    "semdedup" -> ((s, dir) =>
      Similarity.semDedup(emb(s, dir).select(col("vec_id"), col("embedding")),
        tau = 0.2)),

    // tokenizer induction: exact top-50 adjacent character pairs (the
    // table the first BPE merge is chosen from)
    "bpe_pair_counts" -> ((s, dir) => TextOps.bpePairCounts(docs(s, dir), k = 50)),

    // true merge INDUCTION (not just first-round stats): 12 rounds of
    // count → argmax → rewrite over the word-frequency table
    "bpe_train" -> ((s, dir) => TextOps.bpeTrain(docs(s, dir), nMerges = 12)),

    // token-budget mixture: ≈800 tokens from src0, 600 from src1, 1000 from
    // every other source, by salted-hash bucket prefix (append-stable)
    "token_budget_mix" -> ((s, dir) =>
      TextOps.tokenBudgetMix(docs(s, dir),
        budgets = Map("src0" -> 800L, "src1" -> 600L), defaultBudget = 1000L)),

    // per-doc novelty: distinct trigrams + how many exist in no other doc
    "ngram_novelty" -> ((s, dir) => TextOps.ngramNovelty(docs(s, dir), n = 3)),

    // BPE tokenizer APPLICATION: encode every doc with the top-30 merges
    // table induced from the pair statistics (k-row-bounded collect); the
    // oracle replays the same merges in rank order via a recursive CTE
    // over a bracketed-symbol string form — exact tokens, not just counts
    "bpe_encode" -> ((s, dir) =>
      TextOps.bpeEncode(docs(s, dir), bpeMerges(s, dir, k = 30))),

    // sequence packing on REAL tokenizer output: the sequence_pack
    // sequential fill, but n_tokens comes from bpeEncode instead of the
    // whitespace proxy — the packing a training run would actually use
    "sequence_pack_bpe" -> ((s, dir) =>
      TextOps.packSequences(
        TextOps.bpeEncode(docs(s, dir), bpeMerges(s, dir, k = 30)),
        capacity = 256, nTokens = col("n_tokens"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))),

    // exact corpus length percentiles from the bounded-cardinality
    // length histogram — no distributed sort, no approxQuantile
    "length_percentiles" -> ((s, dir) => TextOps.lengthPercentiles(docs(s, dir))),
    // real frame sampling: decode 3 of 5 container PNG frames (evenly
    // spaced) with javax.imageio; the oracle predicts the per-frame channel
    // means analytically from the synth formula
    "multimodal_frames" -> ((s, dir) => {
      import s.implicits._
      Multimodal.sampleFrames(Multimodal.videosFromDocs(s, docs(s, dir)), n = 3)
        .map(f => (f.doc_id, f.frame_idx,
          math.floor(f.features.map(_.toDouble).sum * 1e6).toLong))
        .toDF("doc_id", "frame_idx", "feat_sum_fp")
    }),

    // ---- multimodal audio (REAL javax.sound.sampled WAV decode) -----------
    // deterministic 16-bit PCM WAV per doc; every output column is an exact
    // integer over the DECODED samples, predicted analytically by the
    // oracle from the synth formula — a broken RIFF parse cannot match
    "multimodal_audio" -> ((s, dir) =>
      Multimodal.decodeAudioStats(Multimodal.audioFromDocs(s, docs(s, dir)))),

    // ---- multimodal plumbing: opaque binary + typed metadata --------------
    "multimodal_extract" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("payload", col("text").cast("binary")) // stand-in binary column
        .select(col("doc_id"),
          length(col("payload")).as("n_bytes"),
          hex(substring(col("text"), 1, 8).cast("binary")).as("head_hex"))),

    // ---- streaming (Structured Streaming over the events table) -----------
    "streaming_counts" -> ((s, dir) => Streaming.eventCounts(s, dir)),
    // watermarked APPEND-mode variant with checkpoint + parquet sink: on a
    // completed AvailableNow run every window has been finalized and
    // emitted exactly once, so the sink equals the batch hourly counts
    // (late-data drop accounting is pinned separately by LateDataSpec)
    "streaming_watermarked" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-swm").toString
      Streaming.eventCountsCheckpointed(s, dir, s"$tmp/ckpt", s"$tmp/sink")
      s.read.parquet(s"$tmp/sink")
    }),
    // stateful streaming dedup (flatMapGroupsWithState): one AvailableNow
    // batch over the documents file reproduces batch exact-dedup keepers
    "streaming_dedup" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
      Streaming.dedupStream(s, dir, s"$tmp/ckpt", s"$tmp/out")
      s.read.parquet(s"$tmp/out")
    }),
    // STREAM-STREAM interval join: watermarked self-join of the events
    // stream ("b follows a within 1h, same user") — complete on an
    // AvailableNow run, so pair counts equal the batch interval self-join
    "streaming_join" -> ((s, dir) => Streaming.streamStreamJoin(s, dir)),

    // STREAM-STATIC cross-corpus dedup: the live crawl (documents stream)
    // anti-joined per micro-batch against the static prior snapshot —
    // stateless, and row-identical to the batch cross_corpus_dedup
    "streaming_crosscorpus" -> ((s, dir) =>
      Streaming.crossCorpusStream(s, dir,
        docs(s, dir).where(col("doc_id") % 5 === 0))),

    // native session-window streaming aggregation; final sessions equal
    // the batch gap rule (gap >= starts a new session — Spark's boundary)
    "streaming_sessions" -> ((s, dir) => Streaming.sessionWindows(s, dir)),

    // STREAM-STATIC spatial join — the live-ingest form of the flagship:
    // documents arrive as a file stream, join the broadcast static tile
    // cover on cell, exact point-in-window refine, per-tile counts in
    // complete mode (AvailableNow ⇒ equals the batch join aggregation)
    "streaming_tiles" -> ((s, dir) => {
      val meta = Fixtures.luxMeta()
      val cfg = PagesTiling.TilingConfig(cellRes = 16)
      val pts = Streaming.tableStream(s, dir, "documents")
        .select(col("doc_id"), lLat.as("lat"), lLon.as("lon"))
        .withColumn("cell", CellFunctions.cell_id(col("lat"), col("lon"), lit(cfg.cellRes)))
      val tiles = PagesTiling.tileCells(s, meta, cfg)
      val agg = pts.join(tiles, Seq("cell"))
        .where(col("lon") >= col("minx") && col("lon") < col("maxx") &&
               col("lat") <= col("maxy") && col("lat") > col("miny"))
        .groupBy("i", "j").agg(count(lit(1)).as("n_pages"))
      Streaming.runToMemory(agg)
    }),

    // ---- satproc raster/vector ops (non-SQL; rows-only gate + ScalaTest
    //      goldens). Deterministic fixture inputs.
    "extract_chips" -> ((s, _) => {
      val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }
      val aoi = Geom.toWkb(Geom.unaryUnion(Fixtures.aoiGeoms()))
      val chips = ChipPipeline.extractChips(s, Fixtures.luxTiles(s), Fixtures.luxMeta(),
        labels = Some(labels), aoiWkb = Some(aoi),
        cfg = ChipPipeline.ChipConfig(bands = Some(Seq(1, 2, 3, 4)),
          rescaleMode = Some("values"), rescaleRange = (0.0, 0.3)))
      ChipPipeline.footprints(chips)
    }),
    // F1 `--within` mode (reference chips.py:196-200, CLI flag
    // console/extract_chips.py:83-96): keep a chip only when the AOI
    // CONTAINS its bbox, not merely intersects it. Same pipeline and
    // footprint output as extract_chips; only the predicate flips — the
    // fixture grid keeps 1 of the 4 intersecting labeled tiles.
    "extract_chips_within" -> ((s, _) => {
      val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }
      val aoi = Geom.toWkb(Geom.unaryUnion(Fixtures.aoiGeoms()))
      val chips = ChipPipeline.extractChips(s, Fixtures.luxTiles(s), Fixtures.luxMeta(),
        labels = Some(labels), aoiWkb = Some(aoi),
        cfg = ChipPipeline.ChipConfig(bands = Some(Seq(1, 2, 3, 4)),
          rescaleMode = Some("values"), rescaleRange = (0.0, 0.3), within = true))
      ChipPipeline.footprints(chips)
    }),
    // F2 double-permute quirk, cross-engine-checked: write_tif re-indexes
    // the already-subset array by `bands` AGAIN (chips.py:337), so the
    // non-involution bands=(2,3,1) nets to slot→original [3,1,2] — a naive
    // single permute would emit [2,3,1] and hash-mismatch. The oracle
    // composes the permutation with itself symbolically (self-join on the
    // bands list) rather than hardcoding the net order.
    "extract_chips_bands" -> ((s, _) => {
      import s.implicits._
      ChipPipeline.extractChips(s, Fixtures.luxTiles(s), Fixtures.luxMeta(),
          cfg = ChipPipeline.ChipConfig(bands = Some(Seq(2, 3, 1))))
        .flatMap(c => c.img_f32.zipWithIndex.map { case (b, si) =>
          (c.i, c.j, si + 1, math.floor(b.map(_.toDouble).sum * 100.0).toLong)
        }).toDF("i", "j", "slot", "sum_fp")
    }),

    "pages_chips" -> ((s, _) => {
      val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }
      PagesTiling.extractChips(s, Fixtures.pages(s, 20000), Fixtures.luxMeta(),
          labels = Some(labels))
        .select("raster_id", "i", "j", "n_pages", "bad_text", "filename")
    }),

    // ---- F7: max-prob filter (oracle reproduces the blob formula) ---------
    "filter_chips" -> ((s, _) =>
      PostProcess.filterByMaxProb(Fixtures.probChips(s), 0.05)
        .withColumn("mx", col("mx").cast("int"))),

    // ---- M13+A4: polygonize + dissolve ------------------------------------
    // FP-robust stats: pixel-count area (area / pixel-area, rounded) and
    // fp6 envelope — the envelope corners are exact affine expressions the
    // oracle re-derives analytically from the blob definition
    "polygonize_dissolve" -> ((s, _) => {
      val out = PostProcess.polygonize(s, Fixtures.probChips(s), Fixtures.LuxAffine,
        threshold = Some(0.02))
      pixelRegionStats(s, out, math.abs(Fixtures.LuxPxX * Fixtures.LuxPxY))
    }),

    // ---- M8/J2/A5: smooth stitch -------------------------------------------
    "smooth_stitch" -> ((s, _) => {
      import s.implicits._
      PostProcess.smoothStitch(s, Fixtures.probChips(s, step = 64), Fixtures.LuxAffine,
          power = 1.5)
        .select(col("oi"), col("oj"), col("ocol"), col("orow"),
          col("ow"), col("oh"), col("filename"),
          floor(aggregate(col("pixels"), lit(0.0), (a, v) => a + v) * lit(100.0))
            .cast("long").as("sum_fp"))
    }),

    // ---- A1/M2: two-pass min-max scale (formula oracle) --------------------
    // M1 rescale_intensity, "values" mode — the one mode whose oracle is a
    // pure expression tree (clip → scale → ·254+1 → truncate): percentile
    // modes stay ScalaTest-gated because DuckDB's quantile_cont may lerp
    // with a different expression tree (ulp differences ahead of a uint8
    // truncation are not engine-portable).
    "rescale_values" -> ((s, _) => {
      import s.implicits._
      Fixtures.luxTiles(s).flatMap { t =>
        graft.core.RasterMath.rescaleIntensity(t.pixels, "values", (0.05, 0.25))
          .zipWithIndex.map { case (b, bi) =>
            (t.i, t.j, bi + 1, b.map(x => (x & 0xff).toLong).sum)
          }
      }.toDF("i", "j", "band", "sum_u8")
    }),

    // M1 "percentiles" mode (the reference's default — tests/
    // test_extract_chips.py:44-71 uses rescale percentiles (2,98)):
    // numpy-linear percentile over a fixed 128² chip band is two order
    // statistics + a COMPILE-TIME lerp fraction (pos = 16383·q/100), so the
    // oracle is portable SQL after all — closing the last ScalaTest-only
    // raster kernel (A3). The lerp and clip/scale/truncate expression trees
    // are replicated exactly on both engines.
    "rescale_percentiles" -> ((s, _) => {
      import s.implicits._
      Fixtures.luxTiles(s).flatMap { t =>
        graft.core.RasterMath.rescaleIntensity(t.pixels, "percentiles", (2.0, 98.0))
          .zipWithIndex.map { case (b, bi) =>
            (t.i, t.j, bi + 1, b.map(x => (x & 0xff).toLong).sum)
          }
      }.toDF("i", "j", "band", "sum_u8")
    }),

    // M1 "s2_rgb_extra" mode (reference utils.py:122-127, the CLI default
    // path console/extract_chips.py:281-297): percentile ranges per band
    // with the first 3 bands FORCED to (0, 0.3) — the Sentinel-2 true-color
    // convention. Same order-statistics oracle as rescale_percentiles with
    // the forced literals on bands 1–3; band 4 keeps the (2,98) lerp.
    "rescale_s2_rgb_extra" -> ((s, _) => {
      import s.implicits._
      Fixtures.luxTiles(s).flatMap { t =>
        graft.core.RasterMath.rescaleIntensity(t.pixels, "s2_rgb_extra", (2.0, 98.0))
          .zipWithIndex.map { case (b, bi) =>
            (t.i, t.j, bi + 1, b.map(x => (x & 0xff).toLong).sum)
          }
      }.toDF("i", "j", "band", "sum_u8")
    }),

    "scale_minmax" -> ((s, _) => {
      import s.implicits._
      PostProcess.minmaxScale(s, Fixtures.luxTiles(s)).toDF()
        .select(col("i"), col("j"), posexplode(col("pixels")).as(Seq("b0", "vals")))
        .select(col("i"), col("j"), (col("b0") + 1).as("band"),
          explode(col("vals")).as("v"))
        .groupBy("i", "j", "band")
        .agg(floor(sum(col("v").cast("double")) * lit(100.0)).cast("long").as("sum_fp"))
    }),

    // ---- J3/M3: histogram matching -----------------------------------------
    "histogram_match" -> ((s, _) => {
      import s.implicits._
      val (src, ref) = Fixtures.histPair(s)
      PostProcess.matchHistograms(src, ref).toDF()
        .select(col("i"), col("j"),
          floor(aggregate(flatten(col("pixels")), lit(0.0), (a, v) => a + v) * lit(100.0))
            .cast("long").as("sum_fp"))
    }),

    // ---- M10–M12: generalize ------------------------------------------------
    // Chaikin-smoothed variant: emits fp2 (cm) stats + a per-vertex floor
    // checksum instead of geomStats' fp6/area — integer-exact under the
    // ≤1-ulp tan/ln libm spread and with no summation-order FP hazard, so
    // the DuckDB oracle (OracleSql.chaikinStats, a recursive-CTE replay of
    // the blend) can pin all 160 blended vertices per blob.
    "generalize_3857" -> ((s, _) => {
      import s.implicits._
      val polys = PostProcess.polygonize(s, Fixtures.probChips(s), Fixtures.LuxAffine)
      PostProcess.generalize(polys, "epsg:4326", Some("epsg:3857"),
          douglasTolerance = 0.1, chaikin = true)
        .select(col("geom").as[Array[Byte]], col("dn").as[Int]).map { case (wkb, dn) =>
          val g = Geom.fromWkb(wkb).asInstanceOf[org.locationtech.jts.geom.Polygon]
          val e = g.getEnvelopeInternal
          val cs = g.getExteriorRing.getCoordinates
          (dn, g.getNumPoints,
            math.floor(e.getMinX * 100.0).toLong, math.floor(e.getMinY * 100.0).toLong,
            math.floor(e.getMaxX * 100.0).toLong, math.floor(e.getMaxY * 100.0).toLong,
            cs.map(c => math.floor(c.x * 100.0).toLong + math.floor(c.y * 100.0).toLong).sum)
        }.toDF("dn", "n_points", "minx_fp", "miny_fp", "maxx_fp", "maxy_fp", "coord_sum_cm")
    }),
    // DP-only variant with a DuckDB oracle: the simplified blobs stay
    // axis-aligned in 3857 (Mercator preserves axis alignment), so the
    // envelope equals the Mercator images of the analytic 4326 corners —
    // fp2 (cm) like reproject_3857 because tan/ln differ by ≤1 ulp across
    // libm builds. The chaikin = true path is pinned separately by
    // generalize_3857's vertex-checksum oracle.
    "generalize_3857_dp" -> ((s, _) => {
      import s.implicits._
      val polys = PostProcess.polygonize(s, Fixtures.probChips(s), Fixtures.LuxAffine)
      PostProcess.generalize(polys, "epsg:4326", Some("epsg:3857"),
          douglasTolerance = 0.1, chaikin = false)
        .select(col("geom").as[Array[Byte]], col("dn").as[Int]).map { case (wkb, dn) =>
          val e = Geom.fromWkb(wkb).getEnvelopeInternal
          (dn, math.floor(e.getMinX * 100.0).toLong, math.floor(e.getMinY * 100.0).toLong,
            math.floor(e.getMaxX * 100.0).toLong, math.floor(e.getMaxY * 100.0).toLong)
        }.toDF("dn", "minx_fp", "miny_fp", "maxx_fp", "maxy_fp")
    }),

    // ---- M9: spatial filter (halo-exchange convolution) ---------------------
    "spatial_filter_gaussian" -> ((s, _) => {
      import s.implicits._
      PostProcess.spatialFilter(s, Fixtures.luxTiles(s, mode = "exact"), "gaussian", 5)
        .toDF()
        .select(col("i"), col("j"),
          floor(aggregate(flatten(col("pixels")).cast("array<double>"), lit(0.0),
            (a, v) => a + v) * lit(100.0)).cast("long").as("sum_fp"))
    }),
    // median path of M9 (spatial_filter.py supports both modes); the oracle
    // re-picks each 5x5 neighborhood median discretely — see
    // OracleSql.spatialFilterMedian
    "spatial_filter_median" -> ((s, _) => {
      import s.implicits._
      PostProcess.spatialFilter(s, Fixtures.luxTiles(s, mode = "exact"), "median", 5)
        .toDF()
        .select(col("i"), col("j"),
          floor(aggregate(flatten(col("pixels")).cast("array<double>"), lit(0.0),
            (a, v) => a + v) * lit(100.0)).cast("long").as("sum_fp"))
    }),

    // ---- S7/M4–M7: whole-raster masks ----------------------------------------
    // `make_masks` gates the extent kind against a DuckDB re-derivation of
    // the GDAL scanline fill; `make_masks_all` additionally gates boundary
    // (Bresenham replayed by a recursive CTE) and distance (the chamfer
    // uint8-trunc layer is purely discrete — see OracleSql.maskAll).
    "make_masks" -> ((s, _) =>
      maskCounts(s).where(col("kind") === lit("extent"))),
    "make_masks_all" -> ((s, _) => maskCounts(s)),
    // M6 extent_no_border: boundary pixels zeroed out of the extent mask
    "make_masks_noborder" -> ((s, _) =>
      maskCounts(s, masks = Set("extent"), noBorder = true)),

    // ---- S6: jpg chip sink payload -------------------------------------------
    // chipType=jpg dstacks the FIRST 3 bands of the uint8 (values-mode
    // rescaled) image; write-side low-contrast skip stays off so every chip
    // carries a payload. The oracle rebuilds the 3-band u8 sums from the
    // fixture formula with the same clip/scale/truncate tree.
    "jpg_chips" -> ((s, _) => {
      import s.implicits._
      val chips = ChipPipeline.extractChips(s, Fixtures.luxTiles(s), Fixtures.luxMeta(),
        cfg = ChipPipeline.ChipConfig(chipType = "jpg",
          rescaleMode = Some("values"), rescaleRange = (0.05, 0.25)))
      chips.map(c => (c.i, c.j, c.filename, c.img_u8.length,
          c.img_u8.map(_.map(x => (x & 0xff).toLong).sum).sum))
        .toDF("i", "j", "filename", "n_bands", "sum_u8")
    }),

    // ---- S11: VRT mosaic ------------------------------------------------------
    // two disjoint halves of the tile table re-joined by the lazy union —
    // per-tile band sums must equal the single-table fixture arithmetic.
    "mosaic_sum" -> ((s, _) => {
      import s.implicits._
      val tiles = Fixtures.luxTiles(s)
      val m = graft.sources.Sinks.mosaic(Seq(
        tiles.filter(_.j % 2 == 0), tiles.filter(_.j % 2 == 1)))
      m.toDF().select(col("i"), col("j"),
        floor(aggregate(flatten(col("pixels")).cast("array<double>"), lit(0.0),
          (a, v) => a + v) * lit(100.0)).cast("long").as("sum_fp"))
    }),

    // ---- F4: low-contrast skip -------------------------------------------
    // skimage is_low_contrast on the float path ((p99−p1)/2 < 0.05): the
    // 4 all-zero prob chips have contrast 0 (skipped), the 4 region chips
    // have contrast 20 — decisions sit 400× from the threshold, so the
    // oracle can re-derive them from integer region-overlap arithmetic.
    "lowcontrast_skip" -> ((s, _) => {
      import s.implicits._
      ChipPipeline.extractChips(s, Fixtures.probChips(s),
          Fixtures.luxMeta("prob").copy(bands = 1),
          cfg = ChipPipeline.ChipConfig(skipLowContrast = true))
        .map(c => (c.i, c.j, c.filename))
        .toDF("i", "j", "filename")
    }),

    // ---- S2: GeoJSON vector scan -------------------------------------------
    // round-trips a deterministic FeatureCollection (fixture label rings +
    // point/linestring/multipolygon + three malformed features) through the
    // distributed Jackson parse; invalid/bowtie/null/unsupported features
    // must be DROPPED, valid ones land with exact vertex counts/envelopes.
    // The oracle re-derives the stats from the same coordinate literals.
    "geojson_scan" -> ((s, _) => {
      import s.implicits._
      val feats = s.createDataset(Seq(geoJsonFixtureDoc))
        .flatMap(graft.sources.GeoJson.parseCollection)
      feats.map { f =>
        val g = Geom.fromWkb(f.geom)
        val e = g.getEnvelopeInternal
        (f.props.getOrElse("name", ""), g.getGeometryType, g.getNumPoints,
          math.floor(e.getMinX * 1e6).toLong, math.floor(e.getMinY * 1e6).toLong,
          math.floor(e.getMaxX * 1e6).toLong, math.floor(e.getMaxY * 1e6).toLong)
      }.toDF("name", "gtype", "n_points", "minx_fp", "miny_fp", "maxx_fp", "maxy_fp")
    }),

    // ---- F6/S4/S13: manifest-resume anti-join --------------------------------
    // commits a deterministic manifest (part keys = multiples of 3 below 60,
    // across two snapshots) into a fresh Iceberg-style table, then emits the
    // PENDING work rows — the skip-existing resume path end-to-end
    // (reference: satproc/chips.py:227-233).
    "resume_pending" -> ((s, _) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_resume_q").toString
      val tbl = new graft.sources.IcebergLite(root, s)
      tbl.commit(None, s.range(0, 10).select((col("id") * 3).as("part_key")), "append")
      tbl.commit(None, s.range(10, 20).select((col("id") * 3).as("part_key")), "append")
      tbl.pendingWork(s.range(0, 60).toDF("part_key"), "part_key")
    }),

    // ---- S4/G1: snapshot-as-of time travel ------------------------------------
    // two data commits into a fresh table, then three historical views in one
    // result: the table AS OF the first snapshot (10 rows — the second commit
    // invisible), the current table (20 rows), and the pending-work set a
    // resumer would have computed right after snapshot 1 — "reproduce
    // yesterday's training set" end-to-end. The oracle re-derives all three
    // analytically from the committed key arithmetic.
    "resume_time_travel" -> ((s, _) => {
      val root = java.nio.file.Files.createTempDirectory("graft_tt_q").toString
      val tbl = new graft.sources.IcebergLite(root, s)
      val w1 = s.range(0, 10).select((col("id") * 3).as("part_key"), (col("id") * 21).as("value"))
      val s1 = tbl.commit(Some((w1, "work")), w1.select("part_key"), "append")
      val w2 = s.range(10, 20).select((col("id") * 3).as("part_key"), (col("id") * 21).as("value"))
      tbl.commit(Some((w2, "work")), w2.select("part_key"), "append")
      tbl.readDataAsOf("work", s1)
        .select(lit("asof_s1").as("view_name"), col("part_key"), col("value"))
        .unionAll(tbl.readData("work")
          .select(lit("current").as("view_name"), col("part_key"), col("value")))
        .unionAll(tbl.pendingWorkAsOf(s.range(0, 60).toDF("part_key"), "part_key", s1)
          .select(lit("pending_asof_s1").as("view_name"), col("part_key"),
            lit(-1L).as("value")))
    }),

    // ---- multimodal batched decode (REAL javax.imageio PNG decode) ---------
    // the decoded width/height/channel-means must reproduce what was
    // encoded — the oracle derives them analytically, so a broken decode
    // cannot hash-match
    "multimodal_features" -> ((s, dir) => {
      import s.implicits._
      Multimodal.decodeFeatures(Multimodal.imagesFromDocs(s, docs(s, dir)))
        .map(f => (f.doc_id, f.media_type, f.width, f.height, f.width * f.height,
          math.floor(f.features.map(_.toDouble).sum * 1e6).toLong))
        .toDF("doc_id", "media_type", "width", "height", "n_px", "feat_sum_fp")
    }),

    // ---- S12: retile ----------------------------------------------------------
    "retile_64" -> ((s, _) => {
      import s.implicits._
      Regrid.regrid(s, Fixtures.luxTiles(s), Fixtures.LuxWidth, Fixtures.LuxHeight,
        64, 64, "exact")
        .toDF()
        .select(col("i"), col("j"), col("col_off"), col("row_off"),
          col("width"), col("height"),
          floor(aggregate(flatten(col("pixels")).cast("array<double>"), lit(0.0),
            (a, v) => a + v) * lit(100.0)).cast("long").as("sum_fp"))
    })
  )

  /** The valid geometries of the S2 GeoJSON fixture doc, shared by the
    * query's doc builder and the oracle's literal re-derivation. geomToJson
    * writes Double.toString and Jackson parses it back to the identical
    * double, so the oracle's coordinate literals are exactly what the
    * parser must reproduce. */
  private lazy val geoJsonFixtureGeoms: Seq[(String, org.locationtech.jts.geom.Geometry)] = {
    import org.locationtech.jts.geom.Coordinate
    val f = Geom.factory
    val geoms = Fixtures.labelGeoms()
    val p1 = geoms(0)._1.asInstanceOf[org.locationtech.jts.geom.Polygon]
    val p2 = geoms(2)._1.asInstanceOf[org.locationtech.jts.geom.Polygon]
    Seq(
      "p1" -> p1,
      "p2" -> p2,
      "pt" -> f.createPoint(new Coordinate(5.99, 50.11)),
      "ls" -> f.createLineString(Array((5.98, 50.10), (5.99, 50.105), (6.0, 50.11))
        .map { case (x, y) => new Coordinate(x, y) }),
      "mp" -> f.createMultiPolygon(Array(p1, p2)))
  }

  /** Deterministic FeatureCollection for `geojson_scan`: the valid fixture
    * geometries plus a self-intersecting bowtie polygon, a null geometry
    * and an unsupported type — all three must be dropped by the parser
    * (reference drop tolerance: satproc/chips.py:343-361). */
  private lazy val geoJsonFixtureDoc: String = {
    import graft.sources.GeoJson.geomToJson
    def feat(name: String, gj: String) =
      s"""{"type":"Feature","geometry":$gj,"properties":{"name":"$name"}}"""
    val valid = geoJsonFixtureGeoms.map { case (n, g) => feat(n, geomToJson(g)) }
    val bad = Seq(
      feat("bow", """{"type":"Polygon","coordinates":[[[0,0],[2,2],[2,0],[0,2],[0,0]]]}"""),
      """{"type":"Feature","geometry":null,"properties":{"name":"none"}}""",
      feat("gc", """{"type":"GeometryCollection","geometries":[]}"""))
    (valid ++ bad).mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
  }

  private def geoJsonScanOracle: String = {
    val rows = geoJsonFixtureGeoms.flatMap { case (name, g) =>
      g.getCoordinates.map(c => s"('$name', '${g.getGeometryType}', ${c.x}, ${c.y})")
    }.mkString(", ")
    s"""WITH v(name, gtype, x, y) AS (VALUES $rows)
       |SELECT name, gtype, CAST(count(*) AS INT) AS n_points,
       | CAST(FLOOR(MIN(x) * 1000000.0) AS BIGINT) AS minx_fp,
       | CAST(FLOOR(MIN(y) * 1000000.0) AS BIGINT) AS miny_fp,
       | CAST(FLOOR(MAX(x) * 1000000.0) AS BIGINT) AS maxx_fp,
       | CAST(FLOOR(MAX(y) * 1000000.0) AS BIGINT) AS maxy_fp
       |FROM v GROUP BY 1, 2""".stripMargin
  }

  /** Shared make_masks pipeline: per-chip nonzero counts of each requested
    * mask kind over the fixture labels. */
  private def maskCounts(s: SparkSession,
                         masks: Set[String] = Set("extent", "boundary", "distance"),
                         noBorder: Boolean = false): DataFrame = {
    val labels = Fixtures.labelGeoms().map { case (g, c) => (Geom.toWkb(g), c) }
    val chips = ChipPipeline.extractChips(s, Fixtures.luxTiles(s), Fixtures.luxMeta(),
      labels = Some(labels),
      cfg = ChipPipeline.ChipConfig(bands = Some(Seq(1, 2, 3, 4)),
        classes = Some(Seq("A")), masks = masks, extentNoBorder = noBorder))
    import s.implicits._
    ChipPipeline.masksOf(s, chips)
      .select("raster_id", "i", "j", "kind", "class_idx", "mask")
      .as[(String, Int, Int, String, Int, Array[Byte])]
      .map { case (rid, i, j, kind, ci, mask) =>
        (rid, i, j, kind, ci, mask.count(_ != 0).toLong)
      }
      .toDF("raster_id", "i", "j", "kind", "class_idx", "n_nonzero")
  }

  /** FP-robust stats for rectilinear pixel-region polygons: dn, pixel-count
    * area (exact under any FP sliver noise), fp6 envelope (exact affine
    * corner expressions). */
  private def pixelRegionStats(s: SparkSession, polys: DataFrame,
                               pxArea: Double): DataFrame = {
    import s.implicits._
    polys.select(col("geom").as[Array[Byte]], col("dn").as[Int]).map { case (wkb, dn) =>
      val g = Geom.fromWkb(wkb)
      val e = g.getEnvelopeInternal
      (dn, math.floor(g.getArea / pxArea + 0.5).toLong,
        math.floor(e.getMinX * 1e6).toLong, math.floor(e.getMinY * 1e6).toLong,
        math.floor(e.getMaxX * 1e6).toLong, math.floor(e.getMaxY * 1e6).toLong)
    }.toDF("dn", "n_px", "minx_fp", "miny_fp", "maxx_fp", "maxy_fp")
  }

  /** Numeric summary of a WKB geometry table (geometry itself is not
    * DuckDB-comparable): point count + fp6 bounds + fp6 area. */
  private def geomStats(s: SparkSession, polys: DataFrame): DataFrame = {
    import s.implicits._
    polys.select(col("geom").as[Array[Byte]], col("dn").as[Int]).map { case (wkb, dn) =>
      val g = Geom.fromWkb(wkb)
      val e = g.getEnvelopeInternal
      (dn, g.getNumPoints,
        math.floor(e.getMinX * 1e6).toLong, math.floor(e.getMinY * 1e6).toLong,
        math.floor(e.getMaxX * 1e6).toLong, math.floor(e.getMaxY * 1e6).toLong,
        math.floor(g.getArea * 1e9).toLong)
    }.toDF("dn", "n_points", "minx_fp", "miny_fp", "maxx_fp", "maxy_fp", "area_fp")
  }

  val pipPentagon: Seq[(Double, Double)] = Seq(
    (-100.123, -40.234), (40.567, -55.111), (120.789, 10.456),
    (10.321, 70.654), (-140.987, 30.999))

  /** Concave AOI fixture for polygon_fill_concave: an L-shaped CCW ring
    * with one reflex vertex — the shape class (admin boundaries,
    * coastlines) a convex-only fill would over-fill. Coordinates are
    * deliberately off any res-6 cell-center lattice line. */
  val concaveL: Seq[(Double, Double)] = Seq(
    (-130.271, -52.613), (110.438, -52.613), (110.438, 10.927),
    (-20.345, 10.927), (-20.345, 61.834), (-130.271, 61.834))

  /** The two distinct label rings (open form — the oracle closes them),
    * taken straight from the fixture geometries so the SQL literals are the
    * identical doubles the executors rasterize. */
  private def labelRings: Seq[Seq[(Double, Double)]] =
    Seq(0, 2).map { k =>
      Fixtures.labelGeoms()(k)._1.asInstanceOf[org.locationtech.jts.geom.Polygon]
        .getExteriorRing.getCoordinates.dropRight(1).toSeq.map(c => (c.x, c.y))
    }

  // AOI fixture box bounds (Fixtures.aoiGeoms)
  private val aoiB = (5.982763948, 50.094170213, 6.002821601, 50.113968500)

  val knnQueryPoints: Seq[(Long, Double, Double)] =
    (0 until 10).map(q => (q.toLong,
      Seq(-60.0, -46.3, -32.6, -18.9, -5.2, 8.5, 22.2, 35.9, 49.6, 63.3)(q),
      Seq(-150.0, -118.9, -87.8, -56.7, -25.6, 5.5, 36.6, 67.7, 98.8, 129.9)(q)))

  private object PipCache {
    private val cache = new java.util.concurrent.ConcurrentHashMap[Seq[Byte],
      org.locationtech.jts.geom.prep.PreparedGeometry]()
    def get(wkb: Array[Byte]): org.locationtech.jts.geom.prep.PreparedGeometry =
      cache.computeIfAbsent(wkb.toSeq, _ =>
        org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(Geom.fromWkb(wkb)))
  }

  // ======================================================================
  // DuckDB oracles
  // ======================================================================

  /** Shared CTE body replaying [[TextOps.bpeEncode]] in DuckDB: derive the
    * top-k merges table (bpe_pair_counts statistics, rank = (n DESC, pair)),
    * then apply each merge in rank order with a recursive CTE over a
    * bracketed-symbol string form — every symbol is chr(1)‖sym‖chr(2), so
    * `replace` of chr(1)x chr(2)chr(1)y chr(2) → chr(1)xy chr(2) is exactly
    * the left-to-right non-overlapping adjacent-pair merge (units are
    * self-delimited; no shared separator between matches). `fin.rep` holds
    * the final bracketed form; token count = chr(1) occurrences. Delimiters
    * are safe: document text is space + letters by construction. */
  private def bpeRecSql(k: Int): String =
    s"""m AS (
       |  SELECT pair, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS r
       |  FROM (SELECT pair, count(*) AS n
       |    FROM (SELECT substring(w, i, 2) AS pair
       |      FROM (SELECT w, unnest(range(1, len(w))) AS i
       |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)))
       |    GROUP BY 1 ORDER BY n DESC, pair LIMIT $k)),
       |rec AS (
       |  SELECT doc_id, regexp_replace(text, '([^ ])', chr(1) || '\\1' || chr(2), 'g') AS rep, 0 AS r
       |  FROM documents
       |  UNION ALL
       |  SELECT rec.doc_id,
       |    replace(rec.rep,
       |      chr(1) || substring(m.pair, 1, 1) || chr(2) || chr(1) || substring(m.pair, 2, 1) || chr(2),
       |      chr(1) || m.pair || chr(2)),
       |    m.r
       |  FROM rec JOIN m ON m.r = rec.r + 1),
       |fin AS (SELECT doc_id, rep FROM rec WHERE r = (SELECT max(r) FROM m))""".stripMargin

  /** Unrolled SQL replay of [[graft.operators.TextOps.bpeTrain]]: `n`
    * chained (pair-count → argmax → rewrite) CTE rounds over the
    * word-frequency table in the same bracketed-symbol string form as
    * [[bpeRecSql]] — an independent re-derivation of the induction, not a
    * dump of its output. Non-recursive on purpose: each round needs a
    * global aggregate, which recursive CTEs disallow. */
  private def bpeTrainSql(n: Int): String = {
    val init =
      """w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS f
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |r0 AS (SELECT regexp_replace(w, '(.)', chr(1) || '\1' || chr(2), 'g') AS rep, f FROM w0)""".stripMargin
    val rounds = (1 to n).map { i =>
      s"""p$i AS (SELECT syms[i] AS lhs, syms[i + 1] AS rhs, CAST(sum(f) AS BIGINT) AS n
         | FROM (SELECT syms, f, unnest(range(1, len(syms))) AS i
         |   FROM (SELECT string_split(substring(rep, 2, len(rep) - 2),
         |     chr(2) || chr(1)) AS syms, f FROM r${i - 1}))
         | GROUP BY 1, 2),
         |b$i AS (SELECT lhs, rhs, n FROM p$i ORDER BY n DESC, lhs, rhs LIMIT 1),
         |r$i AS (SELECT replace(rep, chr(1) || b.lhs || chr(2) || chr(1) || b.rhs || chr(2),
         |    chr(1) || b.lhs || b.rhs || chr(2)) AS rep, f
         |  FROM r${i - 1} CROSS JOIN b$i b)""".stripMargin
    }
    val out = (1 to n)
      .map(i => s"SELECT $i AS rank, lhs, rhs, n FROM b$i")
      .mkString("\nUNION ALL ")
    s"WITH ${(init +: rounds).mkString(",\n")}\n$out"
  }

  private def crossCorpusSql: String =
    s"""WITH nf AS (SELECT doc_id, ${h60("text")} AS fp FROM documents),
       |pf AS (SELECT DISTINCT ${h60("text")} AS fp FROM documents WHERE doc_id % 5 = 0)
       |SELECT doc_id, fp FROM nf
       | WHERE NOT EXISTS (SELECT 1 FROM pf WHERE pf.fp = nf.fp)""".stripMargin

  private def hourlyEventsSql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
      | CAST(FLOOR(sum(value)*1000000.0) AS BIGINT) AS sum_value_fp
      |FROM events GROUP BY 1, 2""".stripMargin

  lazy val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(FLOOR(sum(l_quantity)*1000000.0) AS BIGINT) AS sum_qty_fp,
        | CAST(FLOOR(sum(l_extendedprice)*1000000.0) AS BIGINT) AS sum_price_fp,
        | CAST(FLOOR(max(l_discount)*1000000.0) AS BIGINT) AS max_disc_fp
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q3_join_topk" ->
      """SELECT c_mktsegment, count(*) AS n_lines,
        | CAST(FLOOR(sum(l_extendedprice * (1.0 - l_discount))*1000000.0) AS BIGINT) AS revenue_fp
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey FROM (
        | SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 2""".stripMargin,

    "q_events_hourly" -> hourlyEventsSql,

    // Spark's session-window boundary is gap >= (an event exactly at
    // session end opens a NEW session), vs sessionize's strict >; append
    // mode emits only sessions CLOSED by the final watermark (end <=
    // max(ts) - 2h), the streaming_watermarked finalization rule
    "streaming_sessions" ->
      """WITH g AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS ns
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM g),
        |r AS (SELECT user_id, min(ts) AS sess_start, max(ts) AS sess_last,
        |  count(*) AS n_events FROM s GROUP BY user_id, sid)
        |SELECT user_id, sess_start, n_events FROM r
        |WHERE sess_last + INTERVAL 30 MINUTE <=
        |  (SELECT max(ts) FROM events) - INTERVAL 2 HOUR""".stripMargin,

    "funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS t FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.us) AS t FROM e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.us > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.us) AS t FROM e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'click' AND e.us > s2.t GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(e.us) AS t FROM e
        |  JOIN s3 ON e.user_id = s3.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > s3.t GROUP BY 1)
        |SELECT 1 AS step, 'signup' AS step_type,
        |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
        |UNION ALL SELECT 2, 'view', CAST((SELECT count(*) FROM s2) AS BIGINT)
        |UNION ALL SELECT 3, 'click', CAST((SELECT count(*) FROM s3) AS BIGINT)
        |UNION ALL SELECT 4, 'purchase', CAST((SELECT count(*) FROM s4) AS BIGINT)""".stripMargin,

    "retention_cohorts" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 604800000000 AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM a GROUP BY 1)
        |SELECT c.cohort_week, a.week - c.cohort_week AS k,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id GROUP BY 1, 2""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN — a different implementation family
    // than the Spark side's union-marker carry-forward window
    "asof_join" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, epoch_us(ts) AS us, min(event_id) AS rid
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.us,
        |  r.rid AS prior_event_id, l.us - r.us AS us_since
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us >= r.us""".stripMargin,

    "sessionize" ->
      """WITH g AS (SELECT user_id, ts, event_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS ns
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, event_id,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) - 1 AS session_idx FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        | count(*) AS n_events, min(event_id) AS first_event,
        | CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS duration_us
        |FROM s GROUP BY 1, 2""".stripMargin,

    "tile_grid" -> sqlTileGrid,

    "cell_id" ->
      s"""SELECT doc_id,
         | ${sqlInterleave(sqlXIndex(sqlLon, 12), sqlYIndex(sqlLat, 12), 12)} AS cell
         |FROM documents""".stripMargin,

    "kring" ->
      s"""WITH pts AS (
         | SELECT doc_id,
         |  ${sqlXIndex(sqlLon, 8)} AS xi, ${sqlYIndex(sqlLat, 8)} AS yi
         | FROM documents WHERE doc_id < 50
         |), nbrs AS (
         | SELECT doc_id, xi, yi, xi + dx.d AS nx, yi + dy.d AS ny
         | FROM pts, range(-1, 2) dx(d), range(-1, 2) dy(d)
         | WHERE xi + dx.d BETWEEN 0 AND 255 AND yi + dy.d BETWEEN 0 AND 255
         |)
         |SELECT doc_id,
         | ${sqlInterleave("xi", "yi", 8)} AS cell,
         | ${sqlInterleave("nx", "ny", 8)} AS nbr
         |FROM nbrs""".stripMargin,

    // JTS `contains` is the strict interior
    "pip_aoi" ->
      s"SELECT doc_id FROM documents WHERE ${insideSql(pipPentagon, sqlLat, sqlLon)}",

    "spatial_join_tiles" ->
      s"""WITH grid AS ($sqlTileGrid)
         |SELECT doc_id, i, j FROM documents, grid
         |WHERE $sqlLLon >= minx AND $sqlLLon < maxx
         |  AND $sqlLLat <= maxy AND $sqlLLat > miny""".stripMargin,

    "knn" -> {
      val qvals = knnQueryPoints.map { case (q, la, lo) => s"($q, $la, $lo)" }.mkString(", ")
      s"""WITH q(qid, qlat, qlon) AS (VALUES $qvals),
         |${OracleSql.knnSql(sqlLat, sqlLon, 5)}""".stripMargin
    },

    "knn_large" ->
      s"""WITH q AS (SELECT doc_id AS qid, $sqlQLat AS qlat, $sqlQLon AS qlon FROM documents),
         |${OracleSql.knnSql(sqlLat, sqlLon, 3)}""".stripMargin,

    "reproject_3857" ->
      s"""SELECT doc_id,
         | CAST(FLOOR(radians($sqlLon) * 6378137.0 * 100.0) AS BIGINT) AS x_fp,
         | CAST(FLOOR(ln(tan(${math.Pi / 4.0} + radians($sqlLat) / 2.0)) * 6378137.0 * 100.0) AS BIGINT) AS y_fp
         |FROM documents""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keeper_id
        |FROM documents GROUP BY 1""".stripMargin,

    // NOT EXISTS, not NOT IN: the engine side is a left_anti join, which
    // KEEPS null-fp rows (null text can never match the prior side); a
    // NOT IN over a subquery inverts to all-false the moment either side
    // holds a NULL — the one SQL idiom whose null semantics silently
    // diverge from the anti-join on a fixture with NULL text
    "cross_corpus_dedup" -> crossCorpusSql,

    // the streaming form must reproduce the batch anti-join exactly
    "streaming_crosscorpus" -> crossCorpusSql,

    "chunk_dedup" ->
      s"""WITH ${OracleSql.plantedTokensSql("doc_id % 3 = 0", ChunkFooter)},
         |${OracleSql.fixedChunksSql(10)},
         |${OracleSql.chunkKeepFirstSql(h60("chunk"), "doc_id, ci")}""".stripMargin,

    // CDC boundaries as a pure per-position window predicate, chunk index
    // = running boundary count (excluding own flag), chunks reassembled
    // with an ordered string_agg — an independent relational formulation
    // of the engine's sequential per-doc scan
    "cdc_chunk_dedup" ->
      s"""WITH ${OracleSql.plantedTokensSql("doc_id % 3 = 0", ChunkFooter)},
         |p AS (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM t),
         |bf AS (SELECT doc_id, toks, i,
         |  CASE WHEN i >= 2 AND
         |    ${h60("toks[i-1] || ' ' || toks[i] || ' ' || toks[i+1]")} % 8 = 0
         |   THEN 1 ELSE 0 END AS bflag
         | FROM p),
         |ix AS (SELECT doc_id, toks, i,
         |  SUM(bflag) OVER (PARTITION BY doc_id ORDER BY i) - bflag AS ci FROM bf),
         |c AS (SELECT doc_id, ci, count(*) AS n_tok,
         |  string_agg(toks[i+1], ' ' ORDER BY i) AS chunk FROM ix GROUP BY 1, 2),
         |${OracleSql.chunkKeepFirstSql(h60("chunk"), "doc_id, ci")}""".stripMargin,

    // chi-square drift: identical IEEE tree per (source, bucket) term —
    // the integer count/total divisions, the scientific-notation epsilon
    // (a DOUBLE literal on both engines; a long decimal literal would be
    // DECIMAL-typed in DuckDB), and the per-bucket floor BEFORE the sum
    "token_drift" ->
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
         |sb AS (SELECT source, ${h60("tok")} % 64 AS bucket, count(*) AS n_sb
         | FROM tok GROUP BY 1, 2),
         |g AS (SELECT bucket, SUM(n_sb) AS n_gb FROM sb GROUP BY 1),
         |t AS (SELECT source, SUM(n_sb) AS n_s FROM sb GROUP BY 1),
         |gt AS (SELECT SUM(n_gb) AS n_g FROM g),
         |grid AS (SELECT t.source, t.n_s, b.b AS bucket FROM t, range(0, 64) b(b)),
         |j AS (SELECT grid.source, grid.n_s, grid.bucket,
         |  COALESCE(sb.n_sb, 0) AS n_sb, COALESCE(g.n_gb, 0) AS n_gb, gt.n_g
         | FROM grid LEFT JOIN sb ON sb.source = grid.source AND sb.bucket = grid.bucket
         |  LEFT JOIN g ON g.bucket = grid.bucket
         |  CROSS JOIN gt),
         |d AS (SELECT source, n_s,
         |  CAST(FLOOR((CAST(n_sb AS DOUBLE) / n_s - CAST(n_gb AS DOUBLE) / n_g)
         |     * (CAST(n_sb AS DOUBLE) / n_s - CAST(n_gb AS DOUBLE) / n_g)
         |     / (CAST(n_gb AS DOUBLE) / n_g + CAST(1e-09 AS DOUBLE))
         |     * 1000000.0) AS BIGINT) AS term
         | FROM j)
         |SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
         | CAST(SUM(term) AS BIGINT) AS drift_u
         |FROM d GROUP BY 1""".stripMargin,

    // priority sampling: same salted-hash u, same single IEEE division —
    // u and w are integers < 2^31, so w/u is the identical correctly-
    // rounded double on both engines and the ranking is bit-stable
    "weighted_sample" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  len(string_split(text, ' ')) AS w FROM documents),
         |u AS (SELECT doc_id, source, w,
         |  (${h60("doc_id::VARCHAR || ':wsample'")} % 1073741824) + 1 AS u FROM t),
         |r AS (SELECT doc_id, source, w,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY CAST(w AS DOUBLE) / u DESC, doc_id) AS rank
         | FROM u)
         |SELECT doc_id, source, CAST(w AS BIGINT) AS n_tokens, rank::INT AS rank
         |FROM r WHERE rank <= 50""".stripMargin,

    "stratified_sample" ->
      s"""WITH b AS (SELECT doc_id, lang, source,
         |  ${h60("doc_id::VARCHAR || ':strat'")} % 10000 AS bucket
         | FROM documents)
         |SELECT doc_id, lang, source, bucket FROM b
         |WHERE bucket < (CASE lang WHEN 'en' THEN 4000 WHEN 'zh' THEN 8000 ELSE 10000 END)""".stripMargin,

    // hybrid geo+semantic oracle: kRing-2 membership is Chebyshev distance
    // <= 2 on the (xi, yi) index pair (points are always in grid bounds,
    // so the clamped ring and the abs-diff test agree); re-rank is the
    // shared rounded-cosine tree
    "geo_semantic_topk" ->
      s"""WITH pts AS (SELECT doc_id,
         |  ${sqlXIndex(sqlLon, 4)} AS xi, ${sqlYIndex(sqlLat, 4)} AS yi
         | FROM documents),
         |qp AS (SELECT doc_id AS qid, xi AS qxi, yi AS qyi FROM pts WHERE doc_id < 5),
         |ve AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |cand AS (
         | SELECT qp.qid, p.doc_id FROM pts p, qp
         | WHERE abs(p.xi - qp.qxi) <= 2 AND abs(p.yi - qp.qyi) <= 2
         |   AND p.doc_id <> qp.qid),
         |sc AS (
         | SELECT c.qid, c.doc_id,
         |  round(list_dot_product(v.e, q.qe) / sqrt(list_dot_product(v.e, v.e)) / sqrt(list_dot_product(q.qe, q.qe)), 6) AS cos
         | FROM cand c
         |  JOIN ve v ON v.vec_id = c.doc_id
         |  JOIN (SELECT vec_id AS qid, e AS qe FROM ve WHERE vec_id < 5) q ON q.qid = c.qid),
         |r AS (SELECT qid, doc_id, cos,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rank
         | FROM sc)
         |SELECT qid, rank::INT AS rank, doc_id,
         | CAST(FLOOR(cos*1000000.0) AS BIGINT) AS cos_fp
         |FROM r WHERE rank <= 5""".stripMargin,

    // unigram-LM perplexity: the hashed-token histogram of the src0 slice
    // is rebuilt in SQL; per-token surprisal is the exact integer
    // length(bin(num // den)) − 1 twin of the engine's bitlen form, so the
    // sum and the micro-bit integer mean hash-match exactly
    "lm_perplexity" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |tk AS (SELECT doc_id, unnest(l) AS t FROM d),
         |hb AS (SELECT doc_id, ${h60("t")} % 4096 AS bucket FROM tk),
         |tgt AS (SELECT bucket, count(*) AS c FROM hb
         |  JOIN documents USING (doc_id) WHERE source = 'src0' GROUP BY 1),
         |tot AS (SELECT CAST(coalesce(sum(c), 0) + 4096 AS BIGINT) AS num FROM tgt),
         |sc AS (SELECT hb.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(bin(tot.num // (coalesce(tgt.c, 0) + 1))) - 1) AS BIGINT) AS sum_bits
         | FROM hb LEFT JOIN tgt USING (bucket) CROSS JOIN tot GROUP BY 1)
         |SELECT doc_id, n_tokens, sum_bits,
         | sum_bits * 1000000 // n_tokens AS mean_bits_u
         |FROM sc""".stripMargin,

    "dsir_score" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |bg AS (SELECT doc_id,
         |  unnest(list_filter(list_transform(list_zip(l, l[2:]), s -> s[1] || ' ' || s[2]),
         |    x -> x IS NOT NULL)) AS bg FROM d),
         |hb AS (SELECT doc_id, ${h60("bg")} % 64 AS bucket FROM bg),
         |tgt AS (SELECT bucket, count(*) AS c FROM hb
         |  JOIN documents USING (doc_id) WHERE source = 'src0' GROUP BY 1),
         |sc AS (SELECT hb.doc_id, count(*) AS n_bigrams,
         |  CAST(sum(coalesce(tgt.c, 0)) AS BIGINT) AS dsir_score
         | FROM hb LEFT JOIN tgt USING (bucket) GROUP BY 1)
         |SELECT d0.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
         | coalesce(sc.dsir_score, 0) AS dsir_score
         |FROM documents d0 LEFT JOIN sc ON d0.doc_id = sc.doc_id""".stripMargin,

    "domain_stats" ->
      s"""WITH t AS (SELECT source, lang, ${OracleSql.qualitySignalsSql}
         | FROM documents),
         |q AS (SELECT source, lang, len(toks) AS n_tokens, ${OracleSql.qualityOkSql} AS ok
         | FROM t)
         |SELECT source, count(*) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         | CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         | count(DISTINCT lang) AS n_langs
         |FROM q GROUP BY 1""".stripMargin,

    "token_histogram" ->
      """SELECT token, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY 1 ORDER BY n_occ DESC, token LIMIT 100""".stripMargin,

    "inverted_index" ->
      """SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY 1, 2""".stripMargin,

    // integer tf-idf: idf = floor(log2(N/df)) via the bit-length identity
    // (the lm_perplexity twin); ties by term in memcmp order
    "tfidf_topk" ->
      """WITH t AS (SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY 1, 2),
        |d AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT t.doc_id, t.term, t.tf,
        |    t.tf * (length(bin(n.n // d.df)) - 1) AS score
        |  FROM t JOIN d USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |  FROM s)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
        |  CAST(tf AS BIGINT) AS tf, CAST(score AS BIGINT) AS score
        |FROM r WHERE rank <= 5""".stripMargin,

    // the scoring expression is the SAME IEEE tree Search.bm25TopK builds
    // (constants interpolated from the identical Scala doubles), floored to
    // micro-units per term BEFORE the sum so the per-doc score is an exact
    // integer in both engines
    "bm25_topk" -> {
      val (k1, b) = (1.2, 0.75)
      val values = Bm25Queries
        .map { case (q, t) => s"(CAST($q AS BIGINT), '$t')" }.mkString(", ")
      s"""WITH post AS (
         |  SELECT term, doc_id, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
         |  GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY 1),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |q(qid, qtext) AS (VALUES $values),
         |qt AS (SELECT DISTINCT qid, term FROM
         |  (SELECT qid, unnest(string_split(qtext, ' ')) AS term FROM q)),
         |m AS (SELECT p.term, p.doc_id, p.tf FROM post p
         |  WHERE p.term IN (SELECT DISTINCT term FROM qt)),
         |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM m GROUP BY 1),
         |scored AS (SELECT qt.qid, m.doc_id,
         |  CAST(floor((CAST(s.n AS DOUBLE) - f.df + 0.5) / (f.df + 0.5)
         |    * ((m.tf * ${k1 + 1.0}) / (m.tf + $k1 * (${1.0 - b} + $b * (d.dl / s.avgdl))))
         |    * 1000000.0) AS BIGINT) AS stu
         |  FROM m JOIN qt ON m.term = qt.term JOIN dft f ON m.term = f.term
         |  JOIN dl d ON m.doc_id = d.doc_id CROSS JOIN stats s),
         |agg AS (SELECT qid, doc_id, CAST(sum(stu) AS BIGINT) AS score_u
         |  FROM scored GROUP BY 1, 2)
         |SELECT qid, rank, doc_id, score_u FROM (
         |  SELECT qid, doc_id, score_u, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY score_u DESC, doc_id) AS INT) AS rank
         |  FROM agg) WHERE rank <= 10""".stripMargin
    },

    "bpe_train" -> bpeTrainSql(12),

    "ngram_novelty" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |tg AS (SELECT DISTINCT doc_id, ${h60("tg")} AS h FROM (
         |  SELECT doc_id, unnest(list_filter(list_transform(
         |    list_zip(l, l[2:], l[3:]), s -> s[1] || ' ' || s[2] || ' ' || s[3]),
         |    x -> x IS NOT NULL)) AS tg FROM d)),
         |f AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM tg GROUP BY 1)
         |SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
         |FROM tg JOIN f ON tg.h = f.h GROUP BY 1""".stripMargin,

    "token_budget_mix" ->
      s"""WITH base AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  ${h60("doc_id::VARCHAR || ':mix'")} % 4096 AS bucket
         | FROM documents),
         |mass AS (SELECT source, bucket, CAST(sum(n_tokens) AS BIGINT) AS btoks
         | FROM base GROUP BY 1, 2),
         |cum AS (SELECT source, bucket, sum(btoks) OVER (
         |   PARTITION BY source ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum
         | FROM mass),
         |cut AS (SELECT source, coalesce(
         |   min(CASE WHEN cum >= (CASE source WHEN 'src0' THEN 800
         |     WHEN 'src1' THEN 600 ELSE 1000 END) THEN bucket END),
         |   max(bucket)) AS cut
         | FROM cum GROUP BY 1)
         |SELECT b.doc_id, b.source, b.bucket, b.n_tokens
         |FROM base b JOIN cut c ON b.source = c.source
         |WHERE b.bucket <= c.cut""".stripMargin,

    "bpe_pair_counts" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT substring(w, i, 2) AS pair
        |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w))
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    "bpe_encode" ->
      s"""WITH RECURSIVE ${bpeRecSql(30)}
         |SELECT doc_id,
         |  CAST(len(rep) - len(replace(rep, chr(1), '')) AS BIGINT) AS n_tokens,
         |  trim(regexp_replace(replace(replace(replace(rep, chr(2) || chr(1), ' '),
         |    chr(1), ''), chr(2), ''), ' +', ' ', 'g')) AS tokens
         |FROM fin""".stripMargin,

    "sequence_pack_bpe" ->
      s"""WITH RECURSIVE ${bpeRecSql(30)},
         |t AS (SELECT doc_id,
         |  CAST(len(rep) - len(replace(rep, chr(1), '')) AS BIGINT) AS n_tokens FROM fin),
         |${OracleSql.packBinsSql(256)}""".stripMargin,

    "length_percentiles" ->
      """WITH l AS (SELECT len(string_split(text, ' ')) AS len FROM documents),
        |q AS (SELECT quantile_cont(len, 0.1) AS q10, quantile_cont(len, 0.5) AS q50,
        |  quantile_cont(len, 0.9) AS q90, quantile_cont(len, 0.99) AS q99 FROM l)
        |SELECT 0.1 AS p, CAST(FLOOR(q10 * 1000000.0) AS BIGINT) AS len_fp FROM q
        |UNION ALL SELECT 0.5, CAST(FLOOR(q50 * 1000000.0) AS BIGINT) FROM q
        |UNION ALL SELECT 0.9, CAST(FLOOR(q90 * 1000000.0) AS BIGINT) FROM q
        |UNION ALL SELECT 0.99, CAST(FLOOR(q99 * 1000000.0) AS BIGINT) FROM q""".stripMargin,

    "substring_dedup" ->
      s"""WITH ${OracleSql.plantedTokensSql("doc_id % 3 = 0", ChunkFooter)},
         |w AS (SELECT doc_id, toks,
         |  unnest(range(0, greatest(len(toks) - 8 + 1, 0))) AS i FROM t),
         |g AS (SELECT DISTINCT doc_id,
         |  ${h60("array_to_string(toks[i + 1 : i + 8], ' ')")} AS h FROM w),
         |c AS (SELECT h, count(*) AS nd FROM g GROUP BY 1),
         |s AS (SELECT g.doc_id, count(*) AS n_windows,
         |  CAST(sum(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         | FROM g JOIN c USING (h) GROUP BY 1)
         |SELECT d0.doc_id,
         | coalesce(s.n_windows, 0) AS n_windows,
         | coalesce(s.n_shared, 0) AS n_shared,
         | CAST(CASE WHEN coalesce(s.n_shared, 0) > 0 THEN 1 ELSE 0 END AS INT) AS flagged
         |FROM documents d0 LEFT JOIN s ON d0.doc_id = s.doc_id""".stripMargin,

    "intradoc_dedup" ->
      s"""WITH ${OracleSql.plantedTokensSql("doc_id % 4 = 0", s"$IntraPhrase $IntraPhrase")},
         |${OracleSql.fixedChunksSql(10)},
         |${OracleSql.chunkKeepFirstSql("doc_id, chunk", "ci")}""".stripMargin,

    "semdedup" ->
      s"""WITH ${OracleSql.ivfAssignSql},
         |capped AS (SELECT vec_id, bucket FROM (
         |  SELECT vec_id, bucket, count(*) OVER (PARTITION BY bucket) AS bsz
         |  FROM assign) WHERE bsz <= 4096),
         |p AS (
         | SELECT a.vec_id AS va, b.vec_id AS vb, x.e AS xe, y.e AS ye
         | FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         | JOIN v x ON x.vec_id = a.vec_id JOIN v y ON y.vec_id = b.vec_id),
         |drp AS (SELECT DISTINCT vb AS vec_id FROM p WHERE $sqlCosineXY >= 0.2)
         |SELECT a.vec_id, a.bucket,
         | CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS INT) AS is_dup
         |FROM assign a LEFT JOIN drp d ON a.vec_id = d.vec_id""".stripMargin,

    "token_count" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS n_tokens,
        | len(string_split_regex(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_pieces_sep,
        | length(text) AS n_bytes
        |FROM documents""".stripMargin,

    "doc_fingerprint" ->
      s"SELECT doc_id, ${h60("text")} AS fingerprint FROM documents",

    "doc_fingerprint_rolling" ->
      s"""WITH ${sqlShingleCte(3).replace("SELECT DISTINCT", "SELECT")},
         |h AS (SELECT doc_id, ${h60("sh")} AS h FROM sh)
         |SELECT doc_id, min(h) AS fp_min, max(h) AS fp_max,
         | CAST(SUM(h % 1000000007) % 1000000007 AS BIGINT) AS fp_fold,
         | count(*) AS n_windows
         |FROM h GROUP BY 1""".stripMargin,

    "dedup_simhash" ->
      s"WITH ${OracleSql.simhashSql(withTh = false)}\nSELECT doc_id, h AS simhash FROM sig",

    "multimodal_extract" ->
      """SELECT doc_id,
        | octet_length(CAST(text AS BLOB)) AS n_bytes,
        | hex(CAST(substring(text, 1, 8) AS BLOB)) AS head_hex
        |FROM documents""".stripMargin,

    "lang_id" -> {
      val scoreCols = TextOps.langMarkers.map { case (l, ms) =>
        val set = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(toks, x -> x IN ($set)))::INT AS score_$l"
      }.mkString(",\n  ")
      val langs = TextOps.langMarkers.map(_._1)
      val best = s"greatest(${langs.map(l => s"score_$l").mkString(", ")})"
      val pred = langs.map(l =>
        s"WHEN score_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, $scoreCols FROM t)
         |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         | CASE $pred ELSE 'und' END AS predicted_lang
         |FROM s""".stripMargin
    },

    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, ${OracleSql.qualitySignalsSql} FROM documents)
         |SELECT doc_id, n_chars,
         | len(toks)::INT AS n_tokens,
         | len(list_filter(toks, x -> x IN ${OracleSql.QualityStopwords}))::INT AS n_stopwords,
         | len(list_filter(toks, x -> length(x) <= 2))::INT AS n_short_tokens,
         | n_spaces,
         | CAST(FLOOR((n_chars - n_spaces) / len(toks)::DOUBLE * 1000000.0) AS BIGINT) AS mean_token_len_fp,
         | ${OracleSql.qualityOkSql} AS quality_ok
         |FROM t""".stripMargin,

    // hashed-bigram linear classifier: weights = Σ (±1 per labeled-doc
    // bigram occurrence) per 4096-bucket, trained on the doc_id%5 slice
    // with the INTEGER form of the quality heuristic as weak label
    // (non-space code points ≥ 2·n_tokens ⟺ mean_token_len ≥ 2.0);
    // score = Σ w[h(bigram)] over every doc's bigram occurrences. All
    // integers — the engine's h60Jvm is the same md5-15-hex fingerprint.
    "model_quality" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
         |lab AS (SELECT doc_id, l,
         |  (len(l) >= 15 AND length(replace(text, ' ', '')) >= 2 * len(l)
         |    AND len(list_filter(l, x -> x IN ${OracleSql.QualityStopwords})) * 20 >= len(l)) AS y_pos
         | FROM t WHERE doc_id % 5 = 0),
         |lbg AS (SELECT y_pos,
         |  unnest(list_transform(list_zip(l, l[2:]), s -> s[1] || ' ' || s[2])) AS bg
         | FROM lab),
         |w AS (SELECT ${h60("bg")} % 4096 AS h,
         |  SUM(CASE WHEN y_pos THEN 1 ELSE -1 END) AS w
         | FROM lbg WHERE bg IS NOT NULL GROUP BY 1),
         |sbg AS (SELECT doc_id,
         |  unnest(list_transform(list_zip(l, l[2:]), s -> s[1] || ' ' || s[2])) AS bg
         | FROM t),
         |sco AS (SELECT s.doc_id, SUM(w.w) AS sc
         | FROM sbg s JOIN w
         |  ON w.h = ${h60("s.bg")} % 4096
         | WHERE s.bg IS NOT NULL
         | GROUP BY 1)
         |SELECT t.doc_id, CAST(COALESCE(sco.sc, 0) AS BIGINT) AS score,
         | COALESCE(sco.sc, 0) >= 0 AS model_ok
         |FROM t LEFT JOIN sco ON sco.doc_id = t.doc_id""".stripMargin,

    "domain_pagerank" -> pageRankSql(10),

    "domain_hits" -> hitsSql(10),

    // analytic audio-hash replay: the engine DECODES real WAVs; the oracle
    // re-derives every sampled 16-bit value from the closed-form synth
    // formula (base id = doc_id − doc_id%4; the group's last member adds
    // 512 to sample 0, which only position p=0 = bit 0 can see), then the
    // identical quarter-split + cap + hamming pipeline
    "audio_dedup" ->
      s"""WITH d AS (SELECT doc_id, doc_id - doc_id % 4 AS b,
         |  (doc_id % 4 = 3) AS pert FROM documents),
         |dn AS (SELECT doc_id, b, pert, 200 + b % 100 AS n FROM d),
         |pos AS (SELECT doc_id, b, pert, i.i AS i, (i.i * n) // 61 AS p
         | FROM dn, range(0, 61) i(i)),
         |sv AS (SELECT doc_id, i,
         |  (((b * 31 + p * 17 + 7) % 2048) - 1024
         |    + CASE WHEN pert AND p = 0 THEN 512 ELSE 0 END) AS s
         | FROM pos),
         |bits AS (SELECT l.doc_id, l.i AS bit, (r.s > l.s) AS bset
         | FROM sv l JOIN sv r ON r.doc_id = l.doc_id AND r.i = l.i + 1
         | WHERE l.i < 60),
         |hh AS (SELECT doc_id,
         |  SUM(CASE WHEN bset THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS h
         | FROM bits GROUP BY 1),
         |${OracleSql.quarterPairsSql("hh", "h", Dedup.QuarterDfCap, 4)}""".stripMargin,

    // bigram list via zip-with-shifted-self; the zip's NULL-padded tail is
    // filtered before the distinct. Bigrams are hashed to the 60-bit md5
    // fingerprint before list_distinct, mirroring the engine (which hashes
    // so the countDistinct shuffle carries 16-byte rows, not strings).
    // Pass-flag thresholds are the Spark side's integer comparisons
    // verbatim.
    "text_quality_gopher" ->
      s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
         |w AS (SELECT doc_id, ${OracleSql.gopherSignalsSql} FROM d)
         |SELECT doc_id,
         | CAST(n_words AS BIGINT) AS n_words,
         | CAST(n_letters AS BIGINT) AS n_letters,
         | CAST(n_alpha_words AS BIGINT) AS n_alpha_words,
         | CAST(n_stop AS BIGINT) AS n_stop,
         | CAST(n_symbols AS BIGINT) AS n_symbols,
         | CAST(n_bigrams AS BIGINT) AS n_bigrams,
         | CAST(n_dup_bigrams AS BIGINT) AS n_dup_bigrams,
         | ${OracleSql.gopherOkSql} AS gopher_ok
         |FROM w""".stripMargin,

    // per-doc shingles are DISTINCT, so the hit count equals the Spark
    // side's distinct-matched-grams accounting
    "decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |shidx AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i FROM t),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i + 4], ' ') AS sh FROM shidx),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 53 = 0),
        |hits AS (SELECT s.doc_id, count(*) AS n FROM sh s JOIN bench b ON s.sh = b.sh GROUP BY 1)
        |SELECT d.doc_id,
        | CAST(COALESCE(h.n, 0) AS BIGINT) AS n_matched_grams,
        | COALESCE(h.n, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin,

    "dedup_minhash" -> s"WITH ${sqlShingleCte(3)} ${OracleSql.minhashSql(Seq("doc_id"), 8)}",

    "dedup_minhash_lsh" -> {
      val bandKeys = (0 until 4).map(b =>
        s"SELECT doc_id, th, $b AS band, md5(mh_${2 * b}::VARCHAR || '_' || mh_${2 * b + 1}::VARCHAR) AS band_key FROM m")
        .mkString(" UNION ALL ")
      s"""WITH ${sqlShingleCte(3)},
         |m AS (${OracleSql.minhashSql(Seq("doc_id", "th"), 8)}),
         |bands AS ($bandKeys),
         |hot AS (
         | SELECT band, band_key FROM (
         |  SELECT band, band_key, count(DISTINCT th) AS df FROM bands GROUP BY 1, 2)
         | WHERE df > ${Dedup.BandDfCap}),
         |blk AS (
         | SELECT b.doc_id, b.band, b.band_key
         | FROM bands b ANTI JOIN hot h ON b.band = h.band AND b.band_key = h.band_key),
         |cand AS (
         | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         | FROM blk x JOIN blk y
         |  ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
         |${OracleSql.jaccardVerifySql(0.4)}""".stripMargin
    },

    "dedup_ngram_jaccard" ->
      s"""WITH ${sqlShingleCte(5)},
         |hot AS (
         | SELECT sh FROM (SELECT sh, count(DISTINCT th) AS df FROM sh GROUP BY 1)
         | WHERE df > ${Dedup.ShingleDfCap}),
         |blk AS (SELECT s.doc_id, s.sh FROM sh s ANTI JOIN hot h ON s.sh = h.sh),
         |cand AS (
         | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         | FROM blk x JOIN blk y ON x.sh = y.sh AND x.doc_id < y.doc_id),
         |${OracleSql.jaccardVerifySql(0.25)}""".stripMargin,

    "dedup_simhash_pairs" -> sqlSimhashPairs,

    // analytic dHash replay: the engine DECODES real PNGs; the oracle
    // re-derives every sampled gray value from the closed-form synth pixel
    // formula (base id = doc_id − doc_id%5; the group's last member
    // perturbs pixel (0,0)'s red by +128 mod 256, which can only reach
    // grid point (0,0) = bit 0), then replays the same quarter-split +
    // distinct-fingerprint cap + hamming-verify pipeline
    "image_dedup" ->
      s"""WITH d AS (SELECT doc_id, doc_id - doc_id % 5 AS b,
         |  (doc_id % 5 = 4) AS pert FROM documents),
         |dim AS (SELECT doc_id, b, pert,
         |  16 + b % 17 AS w, 16 + (b * 7) % 13 AS h FROM d),
         |g AS (SELECT doc_id, b, pert, w, h, gy.gy AS gy, gx.gx AS gx
         | FROM dim, range(0, 6) gy(gy), range(0, 11) gx(gx)),
         |px AS (SELECT doc_id, gy, gx, b, pert,
         |  (gx * w) // 11 AS sx, (gy * h) // 6 AS sy FROM g),
         |gray AS (SELECT doc_id, gy, gx,
         |  (CASE WHEN pert AND sx = 0 AND sy = 0
         |        THEN ((b * 31) % 256 + 128) % 256
         |        ELSE (b * 31 + sy * 13 + sx * 7) % 256 END)
         |  + (b * 31 + sy * 13 + sx * 7 + 11) % 256
         |  + (b * 31 + sy * 13 + sx * 7 + 22) % 256 AS gr
         | FROM px),
         |bits AS (SELECT l.doc_id, l.gy * 10 + l.gx AS bit, (r.gr > l.gr) AS bset
         | FROM gray l JOIN gray r
         |  ON r.doc_id = l.doc_id AND r.gy = l.gy AND r.gx = l.gx + 1
         | WHERE l.gx < 10),
         |hh AS (SELECT doc_id,
         |  SUM(CASE WHEN bset THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS h
         | FROM bits GROUP BY 1),
         |${OracleSql.quarterPairsSql("hh", "h", Dedup.QuarterDfCap, 6)}""".stripMargin,

    // connected components over the simhash near-dup pairs: transitive
    // closure by recursive CTE (every node collects all reachable labels,
    // min per node = the component's min doc_id — the same fixpoint the
    // Spark min-label propagation converges to)
    "dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($sqlSimhashPairs),
         |${OracleSql.componentsSql("pairs", "doc_a", "doc_b")}
         |SELECT d.doc_id, CAST(coalesce(c.rep, d.doc_id) AS BIGINT) AS cluster_rep
         |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id""".stripMargin,

    // keeper selection replayed independently as a window over the same
    // recursive-walk clustering (the Spark side is a min-struct groupBy)
    "dedup_keep_best" ->
      s"""WITH RECURSIVE pairs AS ($sqlSimhashPairs),
         |${OracleSql.componentsSql("pairs", "doc_a", "doc_b")},
         |cl AS (SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS cluster_rep,
         |   length(d.text) AS n_chars
         | FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
         |r AS (SELECT doc_id, cluster_rep, n_chars,
         |   row_number() OVER (PARTITION BY cluster_rep
         |     ORDER BY n_chars DESC, doc_id) AS rk,
         |   count(*) OVER (PARTITION BY cluster_rep) AS n_members
         | FROM cl)
         |SELECT CAST(cluster_rep AS BIGINT) AS cluster_rep, doc_id AS keeper,
         | CAST(n_chars AS BIGINT) AS keeper_chars,
         | CAST(n_members AS BIGINT) AS n_members
         |FROM r WHERE rk = 1""".stripMargin,

    "ann_topk" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5),
         |p AS (SELECT q.qid, v.vec_id, $sqlCosine AS cos
         | FROM v, q WHERE v.vec_id <> q.qid),
         |r AS (SELECT qid, vec_id, cos,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         | FROM p)
         |SELECT qid, rank::INT AS rank, vec_id, CAST(FLOOR(cos*1000000.0) AS BIGINT) AS cos_fp
         |FROM r WHERE rank <= 10""".stripMargin,

    "dedup_embedding" -> {
      // the EXACT deterministic hyperplanes of Similarity.cosinePairs as
      // literals: both engines compute the same 6 band keys of 4 sign bits
      // (sign margins are pinned ≫ reassociation noise, so the engines
      // cannot disagree on a bit), block on (band, key) with the same
      // hot-bucket cap, and verify the same rounded cosine
      val nBands = 6; val width = 4
      val sigCols = signLshKeySql(nBands, width)
      val bandUnion = (0 until nBands)
        .map(b => s"SELECT vec_id, $b AS band, k$b AS key FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |sig AS (SELECT vec_id, e, $sigCols FROM v),
         |bt AS ($bandUnion),
         |blk AS (
         | SELECT vec_id, band, key FROM (
         |  SELECT vec_id, band, key, count(*) OVER (PARTITION BY band, key) AS df
         |  FROM bt) WHERE df <= ${Similarity.BandBucketCap}),
         |cand AS (
         | SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         | FROM blk a JOIN blk b
         |  ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
         |p AS (
         | SELECT c.vec_a, c.vec_b, x.e AS xe, y.e AS ye
         | FROM cand c JOIN v x ON x.vec_id = c.vec_a JOIN v y ON y.vec_id = c.vec_b)
         |SELECT vec_a, vec_b,
         | CAST(FLOOR(${sqlCosineXY}*1000000.0) AS BIGINT) AS cos_fp
         |FROM p WHERE $sqlCosineXY >= 0.2""".stripMargin
    },

    "decontaminate_semantic" -> {
      // same hyperplane literals and corpus-side cap as dedup_embedding,
      // bipartite: corpus buckets join the (small) eval band rows
      val nBands = 6; val width = 4
      val sigCols = signLshKeySql(nBands, width)
      def bandUnion(src: String, idCol: String) = (0 until nBands)
        .map(b => s"SELECT $idCol, $b AS band, k$b AS key FROM $src")
        .mkString("\n  UNION ALL ")
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |tr AS (SELECT * FROM v WHERE vec_id % 11 <> 0),
         |ev AS (SELECT vec_id AS eval_id, e FROM v WHERE vec_id % 11 = 0),
         |tsig AS (SELECT vec_id, $sigCols FROM tr),
         |esig AS (SELECT eval_id, $sigCols FROM ev),
         |tbt AS (${bandUnion("tsig", "vec_id")}),
         |ebt AS (${bandUnion("esig", "eval_id")}),
         |tblk AS (
         | SELECT vec_id, band, key FROM (
         |  SELECT vec_id, band, key, count(*) OVER (PARTITION BY band, key) AS df
         |  FROM tbt) WHERE df <= ${Similarity.BandBucketCap}),
         |cand AS (
         | SELECT DISTINCT t.vec_id, e.eval_id
         | FROM tblk t JOIN ebt e ON t.band = e.band AND t.key = e.key),
         |p AS (
         | SELECT c.vec_id, c.eval_id, x.e AS xe, y.e AS ye
         | FROM cand c JOIN tr x ON x.vec_id = c.vec_id
         |  JOIN ev y ON y.eval_id = c.eval_id)
         |SELECT vec_id, eval_id,
         | CAST(FLOOR(${sqlCosineXY}*1000000.0) AS BIGINT) AS cos_fp
         |FROM p WHERE $sqlCosineXY >= 0.2""".stripMargin
    },

    "ann_ivf" ->
      s"""WITH ${OracleSql.ivfAssignSql},
         |${OracleSql.ivfProbeSql},
         |cand AS (
         | SELECT q.qid, v.vec_id, $sqlCosine AS cos
         | FROM qprobe p
         | JOIN assign a ON a.bucket = p.bucket
         | JOIN v ON v.vec_id = a.vec_id
         | JOIN q ON q.qid = p.qid
         | WHERE v.vec_id <> p.qid),
         |r AS (SELECT qid, vec_id, cos,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         | FROM cand)
         |SELECT qid, rank::INT AS rank, vec_id, CAST(FLOOR(cos*1000000.0) AS BIGINT) AS cos_fp
         |FROM r WHERE rank <= 10""".stripMargin,

    // shared PQ scaffolding: data-sampled codebook sliced per subspace, the
    // same 2·x·c − |c|² argmax tree the engine evaluates (|x|² constant per
    // row), tie → lowest code
    "pq_encode" ->
      s"""WITH $pqAssignCte
         |SELECT vec_id, sub, code FROM assign""".stripMargin,

    "pq_topk" ->
      s"""WITH $pqAssignCte,
         |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
         |lut AS (SELECT q.qid, cs.sub, cs.j AS code,
         |  CAST(floor((list_dot_product(
         |      list_slice(q.qe, cs.sub*8 + 1, (cs.sub+1)*8), cs.ce) * 2.0
         |    - list_dot_product(cs.ce, cs.ce)) * 1000000.0) AS BIGINT) AS lut_u
         | FROM q CROSS JOIN csub cs),
         |sc AS (SELECT l.qid, a.vec_id, CAST(sum(l.lut_u) AS BIGINT) AS score_u
         | FROM assign a JOIN lut l ON a.sub = l.sub AND a.code = l.code
         | GROUP BY 1, 2),
         |r AS (SELECT qid, vec_id, score_u,
         |  row_number() OVER (PARTITION BY qid ORDER BY score_u DESC, vec_id) AS rank
         | FROM sc WHERE vec_id <> qid)
         |SELECT qid, rank::INT AS rank, vec_id, score_u FROM r WHERE rank <= 10""".stripMargin,

    // IVFADC oracle: coarse assign (the ann_ivf argmax-cosine CTEs),
    // residuals by list arithmetic, residual codebooks from the first-256
    // sample, encode via the same 2·r·c − |c|² argmax, ADC lut with the
    // sub-0 bias — every float op is the identical IEEE tree, every score
    // floored to micro-units before the sum
    "ivfpq_topk" ->
      s"""$ivfpqCoreCtes
         |SELECT qid, rank::INT AS rank, vec_id, dist_u FROM rk WHERE rank <= 10""".stripMargin,

    // two-stage retrieve (Jégou 2011 §V.C): the same ADC CTE chain keeps
    // the top 40 candidates per query, which are re-scored with the EXACT
    // squared L2 from the uncompressed vectors — the identical
    // (|x|² − 2·x·q) + |q|² IEEE tree the engine evaluates — and re-ranked
    "ivfpq_rerank" ->
      s"""$ivfpqCoreCtes,
         |cand AS (SELECT qid, vec_id FROM rk WHERE rank <= 40),
         |ex AS (
         | SELECT c.qid, c.vec_id,
         |  (list_dot_product(v.e, v.e) - list_dot_product(v.e, q.qe) * 2.0)
         |    + list_dot_product(q.qe, q.qe) AS d2
         | FROM cand c JOIN v ON v.vec_id = c.vec_id JOIN q ON q.qid = c.qid),
         |rr AS (SELECT qid, vec_id, d2,
         |  row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rank
         | FROM ex)
         |SELECT qid, rank::INT AS rank, vec_id,
         | CAST(FLOOR(d2*1000000.0) AS BIGINT) AS dist2_fp
         |FROM rr WHERE rank <= 10""".stripMargin,

    "retile_64" -> OracleSql.retile64,

    "spatial_filter_gaussian" -> OracleSql.spatialFilterGaussian,

    "spatial_filter_median" -> OracleSql.spatialFilterMedian,

    "smooth_stitch" -> OracleSql.smoothStitch(1.5),

    "histogram_match" -> OracleSql.histogramMatch,

    "pages_chips" -> OracleSql.pagesChips(20000, sqlTileGrid),

    "make_masks" ->
      s"""WITH grid AS ($sqlTileGrid),
         |${OracleSql.extentCountCte(labelRings)}
         |SELECT 'lux1' AS raster_id, CAST(i AS INT) AS i, CAST(j AS INT) AS j,
         | 'extent' AS kind, 0 AS class_idx, CAST(n_ext AS BIGINT) AS n_nonzero
         |FROM extcnt WHERE n_ext > 0""".stripMargin,

    "make_masks_all" -> OracleSql.maskAll(labelRings),

    "make_masks_noborder" -> OracleSql.maskNoBorder(labelRings),

    "geojson_scan" -> geoJsonScanOracle,

    "lowcontrast_skip" ->
      s"""WITH grid AS ($sqlTileGrid)
         |SELECT i, j, 'prob_' || i || '_' || j || '.tif' AS filename
         |FROM grid
         |WHERE (row_off < 60 AND row_off + win_height > 20
         |   AND col_off < 160 AND col_off + win_width > 100)
         |   OR (row_off < 200 AND row_off + win_height > 150
         |   AND col_off < 400 AND col_off + win_width > 300)""".stripMargin,

    "jpg_chips" ->
      s"""WITH ${OracleSql.luxPixelsSql(3, "DOUBLE")}
         |SELECT i, j, 'lux1_' || i || '_' || j || '.jpg' AS filename, 3 AS n_bands,
         | CAST(SUM(${OracleSql.u8Sql("0.05", "0.25")}) AS BIGINT) AS sum_u8
         |FROM px GROUP BY 1, 2""".stripMargin,

    "mosaic_sum" ->
      s"""WITH ${OracleSql.luxPixelsSql(4, "DOUBLE")}
         |SELECT i, j, CAST(FLOOR(SUM(v) * 100.0) AS BIGINT) AS sum_fp
         |FROM px GROUP BY 1, 2""".stripMargin,

    "resume_pending" ->
      "SELECT r.range AS part_key FROM range(0, 60) r WHERE r.range % 3 <> 0",

    "resume_time_travel" ->
      """SELECT 'asof_s1' AS view_name, r.range * 3 AS part_key, r.range * 21 AS value
        |FROM range(0, 10) r
        |UNION ALL
        |SELECT 'current', r.range * 3, r.range * 21 FROM range(0, 20) r
        |UNION ALL
        |SELECT 'pending_asof_s1', r.range, CAST(-1 AS BIGINT)
        |FROM range(0, 60) r WHERE r.range % 3 <> 0 OR r.range >= 30""".stripMargin,

    "extract_chips" -> OracleSql.chipsInAoi(labelRings, aoiB, within = false),

    // within = the AOI box contains the tile bbox: all four bound
    // inequalities flip direction relative to the intersects form above
    "extract_chips_within" -> OracleSql.chipsInAoi(labelRings, aoiB, within = true),

    // slot s holds original band bands[bands[s]] — the self-join composes
    // the permutation twice, re-deriving the chips.py:337 quirk
    "extract_chips_bands" ->
      s"""WITH grid AS ($sqlTileGrid),
         |bsel(pos, band) AS (VALUES (1, 2), (2, 3), (3, 1)),
         |net AS (
         | SELECT b1.pos AS slot, b2.band AS orig
         | FROM bsel b1 JOIN bsel b2 ON b2.pos = b1.band),
         |px AS (
         | SELECT g.i, g.j, n.slot,
         |  CAST(CAST((n.orig * 7 + (row_off + y.y) * 13 + (col_off + x.x)) % 256 AS REAL) / CAST(850 AS REAL) AS DOUBLE) AS v
         | FROM grid g, net n, range(0, 128) y(y), range(0, 128) x(x))
         |SELECT i, j, slot::INT AS slot,
         | CAST(FLOOR(SUM(v) * 100.0) AS BIGINT) AS sum_fp
         |FROM px GROUP BY 1, 2, 3""".stripMargin,

    "generalize_3857" -> OracleSql.chaikinStats,

    "generalize_3857_dp" -> {
      def mx(lon: String) = s"CAST(FLOOR(radians($lon) * 6378137.0 * 100.0) AS BIGINT)"
      def my(lat: String) = s"CAST(FLOOR(ln(tan(${math.Pi / 4.0} + radians($lat) / 2.0)) * 6378137.0 * 100.0) AS BIGINT)"
      OracleSql.blobBounds.map { case (x0, y0, x1, y1) =>
        s"SELECT 255 AS dn, ${mx(x0)} AS minx_fp, ${my(y0)} AS miny_fp, ${mx(x1)} AS maxx_fp, ${my(y1)} AS maxy_fp"
      }.mkString("\nUNION ALL\n")
    },

    "streaming_join" ->
      """SELECT a.event_type AS a_type, b.event_type AS b_type, count(*) AS n_pairs
        |FROM events a JOIN events b
        | ON a.user_id = b.user_id
        | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |GROUP BY 1, 2""".stripMargin,

    "pipeline_e2e" ->
      s"""WITH t AS (
         | SELECT doc_id, lang,
         |  CAST(len(string_split(text, ' ')) + 3
         |       + CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END AS INT) AS n_tokens,
         |  ${OracleSql.docSplitSql} AS split
         | FROM documents)
         |SELECT split, lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM t WHERE n_tokens >= 20 GROUP BY 1, 2""".stripMargin,

    "pipeline_llm" ->
      s"""WITH pf AS (SELECT DISTINCT ${h60("text")} AS fp FROM documents WHERE doc_id % 5 = 0),
         |fresh AS (SELECT d0.* FROM (SELECT *, ${h60("text")} AS fp0 FROM documents) d0
         |  WHERE NOT EXISTS (SELECT 1 FROM pf WHERE pf.fp = d0.fp0)),
         |d AS (SELECT doc_id, lang, source, text, string_split(text, ' ') AS l FROM fresh),
         |w AS (SELECT doc_id, lang, source, ${OracleSql.gopherSignalsSql} FROM d),
         |ok AS (SELECT doc_id, lang, source, n_words FROM w WHERE ${OracleSql.gopherOkSql}),
         |samp AS (SELECT doc_id, source, n_words FROM ok
         | WHERE ${h60("doc_id::VARCHAR || ':strat'")} % 10000 <
         |  (CASE lang WHEN 'en' THEN 5000 ELSE 10000 END))
         |SELECT source, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS sum_words
         |FROM samp GROUP BY 1""".stripMargin,

    "sequence_pack" ->
      s"""WITH t AS (
         | SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         | FROM documents),
         |${OracleSql.packBinsSql(256)}""".stripMargin,

    // the redacted length is pure arithmetic: ' contact user<a>@mail<b>.com
    // now' collapses to ' contact <EMAIL> now' (+20 over the base text) and
    // ' call 555-123-4567' to ' call <PHONE>' (+13)
    "pii_redact" ->
      """SELECT doc_id,
        | CAST(1 AS INT) AS n_emails,
        | CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS INT) AS n_phones,
        | CAST(length(text) + 20 + CASE WHEN doc_id % 4 = 0 THEN 13 ELSE 0 END AS INT) AS redacted_len
        |FROM documents""".stripMargin,

    "dataset_split" ->
      s"""WITH d AS (SELECT doc_id, ${OracleSql.docSplitSql} AS split FROM documents)
         |SELECT split, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM d GROUP BY 1""".stripMargin,

    // the canonical form is predicted analytically (the casing/port/utm/
    // fragment noise must all normalize away)
    "url_dedup" ->
      """WITH c AS (
        | SELECT doc_id,
        |  'https://' || source || '.example.com/p' || (doc_id % 200)
        |    || '?q=' || ((doc_id % 200) % 10) AS canonical_url
        | FROM documents)
        |SELECT canonical_url, count(*) AS n_docs, min(doc_id) AS keeper_id
        |FROM c GROUP BY 1""".stripMargin,

    "multimodal_features" -> OracleSql.multimodalFeatures,

    // n_bytes = 44-byte canonical RIFF/WAVE header + 2 bytes per 16-bit
    // mono sample (the JDK writer emits the canonical header); sums and
    // crossings replayed per sample from the synth formula
    "multimodal_audio" ->
      """WITH d AS (SELECT doc_id, 200 + doc_id % 100 AS n FROM documents),
        |smp AS (SELECT doc_id, n, unnest(range(0, n)) AS t FROM d),
        |v AS (SELECT doc_id, n, t,
        |  ((doc_id * 31 + t * 17 + 7) % 2048) - 1024 AS s FROM smp),
        |w AS (SELECT doc_id, n, s,
        |  lag(s) OVER (PARTITION BY doc_id ORDER BY t) AS ps FROM v)
        |SELECT doc_id,
        | CAST(44 + 2 * any_value(n) AS INT) AS n_bytes,
        | 8000 AS sample_rate,
        | CAST(any_value(n) AS INT) AS n_samples,
        | CAST(sum(s) AS BIGINT) AS sum_samples,
        | CAST(sum(s * s) AS BIGINT) AS sum_squares,
        | CAST(count(*) FILTER (WHERE ps * s < 0) AS INT) AS zero_crossings
        |FROM w GROUP BY doc_id""".stripMargin,

    "multimodal_frames" -> OracleSql.multimodalFrames,

    "polygonize_dissolve" -> {
      def fp(v: String) = s"CAST(FLOOR($v * 1000000.0) AS BIGINT)"
      OracleSql.blobBounds.zip(Seq(2400, 5000)).map { case ((x0, y0, x1, y1), nPx) =>
        s"SELECT 255 AS dn, CAST($nPx AS BIGINT) AS n_px, ${fp(x0)} AS minx_fp, ${fp(y0)} AS miny_fp, ${fp(x1)} AS maxx_fp, ${fp(y1)} AS maxy_fp"
      }.mkString("\nUNION ALL\n")
    },

    "cell_compact" -> cellCompactSql(8, 4),

    "polygon_fill" -> polygonFillSql(pipPentagon, 6),

    "polygon_fill_concave" -> polygonFillSql(concaveL, 6),

    // Independent check of the cell-indexed join: a plain whole-table
    // predicate scan — the cover/boundary machinery must be invisible in
    // the result set (coverClassify's margin-guard contract)
    "pip_cell_join" ->
      s"SELECT doc_id FROM documents WHERE ${insideSql(concaveL, sqlLat, sqlLon)}",

    // Moran's I components: DuckDB widens the d·d sums to HUGEINT; the
    // Spark-side overflow guard certifies the BIGINT casts are lossless
    "moran_i" -> {
      val res = 5
      s"""WITH ${cellCountsSql(res)},
         |st AS (SELECT count(*) AS n, sum(x) AS s FROM h),
         |d AS (SELECT xi, yi, st.n * h.x - st.s AS d FROM h CROSS JOIN st),
         |offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)),
         |pr AS (SELECT a.d AS da, b.d AS db
         | FROM d a CROSS JOIN offs o
         | JOIN d b ON b.xi = a.xi + o.dx AND b.yi = a.yi + o.dy),
         |nu AS (SELECT CAST(sum(da * db) AS BIGINT) AS num,
         |   CAST(count(*) AS BIGINT) AS w_pairs FROM pr),
         |de AS (SELECT CAST(sum(d * d) AS BIGINT) AS den FROM d)
         |SELECT CAST(st.n AS BIGINT) AS n_cells, nu.w_pairs, nu.num, de.den
         |FROM st, nu, de""".stripMargin
    },

    // focal statistics: 9-offset scatter-gather over occupied cells only
    "cell_focal" -> {
      val res = 5
      s"""WITH ${cellCountsSql(res)},
         |offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)),
         |c AS (SELECT h.xi + o.dx AS nxi, h.yi + o.dy AS nyi,
         |   sum(h.x) AS focal_sum, count(*) AS focal_n
         | FROM h CROSS JOIN offs o GROUP BY 1, 2)
         |SELECT ${sqlInterleave("h.xi", "h.yi", res)} AS cell,
         | CAST(h.x AS BIGINT) AS x, CAST(c.focal_sum AS BIGINT) AS focal_sum,
         | CAST(c.focal_n AS BIGINT) AS focal_n
         |FROM h JOIN c ON c.nxi = h.xi AND c.nyi = h.yi""".stripMargin
    },

    // grid-DBSCAN clusters: dense cells + forward-half adjacency edges,
    // recursive-walk labeling (the dedup_clusters oracle family), Morton
    // ids via the interleave twin
    "cell_clusters" -> {
      val res = 4; val minCount = 3
      s"""WITH RECURSIVE ${cellCountsSql(res)},
         |dn AS (SELECT xi, yi, x, ${sqlInterleave("xi", "yi", res)} AS cell
         | FROM h WHERE x >= $minCount),
         |offs(dx, dy) AS (VALUES (1,-1),(1,0),(1,1),(0,1)),
         |e0 AS (SELECT a.cell AS u, b.cell AS v
         | FROM dn a CROSS JOIN offs o
         | JOIN dn b ON b.xi = a.xi + o.dx AND b.yi = a.yi + o.dy),
         |${OracleSql.componentsSql("e0", "u", "v")},
         |lab AS (SELECT coalesce(c.rep, d.cell) AS cluster, d.x
         | FROM dn d LEFT JOIN comp c ON c.node = d.cell)
         |SELECT CAST(cluster AS BIGINT) AS cluster,
         | CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(x) AS BIGINT) AS mass
         |FROM lab GROUP BY 1""".stripMargin
    },

    // pyramid rollup: res-8 counts from the same x/y-index interleave the
    // cell_id oracle uses, then `cell // 4` parent sums per level
    "cell_pyramid" -> {
      val rollups = (7 to 4 by -1).map(r =>
        s"l$r AS (SELECT cell // 4 AS cell, SUM(n) AS n FROM l${r + 1} GROUP BY 1)")
        .mkString(",\n")
      val unions = (8 to 4 by -1).map(r =>
        s"SELECT $r AS res, cell, CAST(n AS BIGINT) AS n FROM l$r")
        .mkString("\nUNION ALL ")
      s"""WITH p AS (SELECT ${sqlXIndex(sqlLon, 8)} AS xi, ${sqlYIndex(sqlLat, 8)} AS yi
         | FROM documents),
         |l8 AS (SELECT ${sqlInterleave("xi", "yi", 8)} AS cell, count(*) AS n
         | FROM p GROUP BY 1),
         |$rollups
         |$unions""".stripMargin
    },

    "cell_cover" -> {
      val res = 16
      s"""WITH grid AS ($sqlTileGrid),
         |rng AS (
         | SELECT i, j,
         |  ${sqlXIndex("minx", res)} AS x0, ${sqlXIndex("maxx", res)} AS x1,
         |  ${sqlYIndex("maxy", res)} AS y0, ${sqlYIndex("miny", res)} AS y1
         | FROM grid),
         |cells AS (
         | SELECT i, j, x0 + xs.d AS xi, y0 + ys.d AS yi
         | FROM rng, range(0, 64) xs(d), range(0, 64) ys(d)
         | WHERE x0 + xs.d <= x1 AND y0 + ys.d <= y1)
         |SELECT i, j, ${sqlInterleave("xi", "yi", res)} AS cell FROM cells""".stripMargin
    },

    "raster_minmax" ->
      s"""WITH ${OracleSql.luxPixelsSql(4, "REAL")}
         |SELECT band::INT AS band,
         | CAST(FLOOR(min(v)::DOUBLE * 1000000.0) AS BIGINT) AS min_fp,
         | CAST(FLOOR(max(v)::DOUBLE * 1000000.0) AS BIGINT) AS max_fp,
         | count(*) AS n_px
         |FROM px GROUP BY 1""".stripMargin,

    "streaming_counts" -> hourlyEventsSql,

    "streaming_dedup" ->
      "SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id FROM documents GROUP BY 1",

    "streaming_tiles" ->
      s"""WITH grid AS ($sqlTileGrid)
         |SELECT i, j, count(*) AS n_pages FROM documents, grid
         |WHERE $sqlLLon >= minx AND $sqlLLon < maxx
         |  AND $sqlLLat <= maxy AND $sqlLLat > miny
         |GROUP BY 1, 2""".stripMargin,

    // append mode emits a window only once the final watermark
    // (max event time − 2 h) passes its END; later windows stay in state
    "streaming_watermarked" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
        |FROM events
        |GROUP BY 1, 2
        |HAVING hour + INTERVAL 1 HOUR <=
        |  (SELECT max(ts) FROM events) - INTERVAL 2 HOUR""".stripMargin,

    "filter_chips" ->
      s"""WITH grid AS ($sqlTileGrid),
         |px AS (
         | SELECT i, j,
         |  CASE WHEN ((row_off + y.y) BETWEEN 20 AND 59 AND (col_off + x.x) BETWEEN 100 AND 159)
         |        OR ((row_off + y.y) BETWEEN 150 AND 199 AND (col_off + x.x) BETWEEN 300 AND 399)
         |       THEN 40 ELSE 0 END AS v
         | FROM grid, range(0, 128) y(y), range(0, 128) x(x))
         |SELECT 'prob' AS raster_id, i, j, max(v)::INT AS mx
         |FROM px GROUP BY 2, 3 HAVING max(v) >= 13""".stripMargin,

    "rescale_values" ->
      s"""WITH ${OracleSql.luxPixelsSql(4, "DOUBLE")}
         |SELECT i, j, band::INT AS band,
         | CAST(SUM(${OracleSql.u8Sql("0.05", "0.25")}) AS BIGINT) AS sum_u8
         |FROM px GROUP BY 1, 2, 3""".stripMargin,

    // numpy-linear percentile = order statistics rn=floor(pos) and
    // floor(pos)+1 lerped by frac = pos − floor(pos), with
    // pos = (16384 − 1)·q/100 a literal (fixed 128² chips); identical
    // double trees on both sides ahead of the uint8 truncation
    "rescale_percentiles" ->
      OracleSql.percentileRescaleSql(OracleSql.percentileSql(2), OracleSql.percentileSql(98)),

    // same order statistics, but bands 1–3 get the forced (0, 0.3) window
    // (utils.py:122-127); only band 4 keeps the (2,98) percentile lerp
    "rescale_s2_rgb_extra" -> OracleSql.percentileRescaleSql(
      s"CASE WHEN band <= 3 THEN 0.0 ELSE ${OracleSql.percentileSql(2)} END",
      s"CASE WHEN band <= 3 THEN 0.3 ELSE ${OracleSql.percentileSql(98)} END"),

    "scale_minmax" ->
      s"""WITH ${OracleSql.luxPixelsSql(4, "REAL")},
         |st AS (SELECT band, min(v)::DOUBLE AS mn, max(v)::DOUBLE AS mx FROM px GROUP BY 1)
         |SELECT p.i, p.j, p.band::INT AS band,
         | CAST(FLOOR(SUM(CAST(CAST((v::DOUBLE - mn) / (mx - mn) AS REAL) AS DOUBLE)) * 100.0) AS BIGINT) AS sum_fp
         |FROM px p JOIN st USING (band) GROUP BY 1, 2, 3""".stripMargin
  )

  /** Shared CTE: distinct word w-shingles per doc (DuckDB side). */
  // th = md5(text) identifies the distinct text: blocking-key document
  // frequency is counted over DISTINCT texts (count(DISTINCT th)), exactly
  // as Dedup.blockedPairs' cap does, so the hot-key caps compare bit-identically.
  // unnest(range(...)) with a per-row bound, NOT `range(1, K) i(i) WHERE
  // i.i < len(toks) - …`: the table-function form needs a constant K that
  // silently truncates shingle sets for documents longer than K tokens,
  // while the Spark side's typed flatMap is unbounded — the scalar-list
  // form enumerates exactly len(toks) − w + 1 starts for any length.
  private def sqlShingleCte(w: Int): String =
    s"""t AS (SELECT doc_id, md5(text) AS th, string_split(text, ' ') AS toks FROM documents),
       |shidx AS (
       | SELECT doc_id, th, toks, unnest(range(1, len(toks) - ${w - 2})) AS i FROM t),
       |sh AS (
       | SELECT DISTINCT doc_id, th, array_to_string(toks[i:i + ${w - 1}], ' ') AS sh
       | FROM shidx)""".stripMargin

  /** Full simhash near-dup pair oracle (also the edge source for the
    * `dedup_clusters` recursive-CTE closure). */
  private def sqlSimhashPairs: String =
    s"""WITH ${OracleSql.simhashSql(withTh = true)},
       |${OracleSql.quarterPairsSql("sig", "th", Dedup.QuarterDfCap, 12)}""".stripMargin

  /** CTEs `pts` (each doc's res-`res` cell indices) and `h`(xi, yi, x):
    * the documents per occupied cell. */
  private def cellCountsSql(res: Int): String =
    s"""pts AS (SELECT ${sqlXIndex(sqlLon, res)} AS xi,
       |   ${sqlYIndex(sqlLat, res)} AS yi FROM documents),
       |h AS (SELECT xi, yi, count(*) AS x FROM pts GROUP BY 1, 2)""".stripMargin

  private def sqlCosine =
    "round(list_dot_product(v.e, q.qe) / sqrt(list_dot_product(v.e, v.e)) / sqrt(list_dot_product(q.qe, q.qe)), 6)"
  private def sqlCosineXY =
    "round(list_dot_product(xe, ye) / sqrt(list_dot_product(xe, xe)) / sqrt(list_dot_product(ye, ye)), 6)"
}
