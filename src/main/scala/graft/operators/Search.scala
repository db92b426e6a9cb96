package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => WExpr}

/** Lexical ranked retrieval over the documents table: an inverted index
  * (posting lists as plain relations — term-major rows, not arrays, so
  * every downstream step is an equi-join) and BM25 top-k scoring.
  *
  * Scale shape (the 100-TB contract):
  *   - the index is ONE map-side-combined aggregation over the exploded
  *     token stream — (term, doc_id) keyed, shuffle carries (term, doc_id,
  *     tf) triples, never text;
  *   - queries are small by contract (a search/eval workload, like the kNN
  *     query set) and broadcast: the corpus-sized postings table is
  *     semi-joined down to query terms WITHOUT a shuffle;
  *   - document-frequency and length tables join back on term (query-term-
  *     sized) and doc_id (one doc-keyed exchange);
  *   - per-(query, doc) accumulation is a partial-aggregated integer sum;
  *     the final top-k is one `row_number() <= k` window per qid, which
  *     Spark plans with a partial group limit before the qid exchange
  *     (`WindowGroupLimit Partial`), so even a query that matches the whole
  *     corpus ships at most k rows per map task to its reducer.
  *
  * Cross-engine determinism: every per-term score is ONE IEEE expression
  * tree evaluated identically by Spark and DuckDB (integer tf/df/dl/n plus
  * the same double literals in the same order), floored to integer
  * MICRO-UNITS per term, and only then summed — so the per-document score
  * is an exact integer sum immune to floating-point reassociation across
  * partitions, and ranking (score desc, doc_id) is total and engine-stable.
  */
object Search {

  private def tokens(c: Column): Column = split(c, " ")

  /** Inverted index as a relation: (term, doc_id, tf). One exploded scan,
    * one (term, doc_id)-keyed aggregation with map-side combine. */
  def invertedIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))

  /** BM25 top-k: for each query (qid, qtext), the k best documents by
    * Okapi BM25 with the standard k1/b and a RATIONAL idf
    * `(N - df + 0.5) / (df + 0.5)` — the log-free Robertson-Sparck-Jones
    * core, kept rational so both engines evaluate the identical IEEE tree
    * (ln() is not bit-stable across runtimes; the log is monotone in this
    * ratio, so with non-negative idf the per-TERM contribution ordering is
    * preserved). Duplicate query terms count once (set semantics).
    *
    * Returns (qid, rank, doc_id, score_u) where score_u is the integer
    * micro-unit sum described above. The postings frame is cached: it
    * feeds doc lengths, df, and the scoring join. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val post = Owned.persist(invertedIndex(docs))
    // doc length = Σ tf over the doc's postings (re-uses the combined
    // index — the raw token stream is never scanned twice)
    val dl = post.groupBy("doc_id").agg(sum("tf").as("dl"))
    // corpus stats ride the plan as a 1-row broadcast (no driver collect)
    val stats = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = queries
      .select(col("qid"), explode(tokens(col("qtext"))).as("term")).distinct()
    // semi-join the corpus down to the DISTINCT query terms first — df and
    // the scoring join then touch only matched postings; qids attach after,
    // so a term shared by several queries cannot inflate its df
    val matched = post.join(broadcast(qterms.select("term").distinct()), Seq("term"))
    // (term, doc_id) is unique in the index by construction, so df is a
    // plain row count per term
    val dft = matched.groupBy("term").agg(count(lit(1)).as("df"))
    val scoredRows = matched
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dft), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
    // one expression tree, identical to the oracle's SQL text:
    // (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)
    //   * (tf * (k1+1)) / (tf + k1 * ((1-b) + b * (dl / avgdl))) * 1e6
    val idf = (col("n").cast("double") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5))
    val tfPart = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / col("avgdl"))))
    val perTerm = scoredRows
      .select(col("qid"), col("doc_id"),
        floor(idf * tfPart * lit(1e6)).as("score_term_u"))
    val perDoc = perTerm.groupBy("qid", "doc_id")
      .agg(sum("score_term_u").as("score_u"))
    val w = WExpr.partitionBy(col("qid"))
      .orderBy(col("score_u").desc, col("doc_id"))
    perDoc.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "doc_id", "score_u")
  }
}
