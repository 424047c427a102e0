package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Lexical retrieval over the corpus — the inverted-index primitive behind
 * retrieval-based decontamination ("which training docs answer this eval
 * question?"), targeted corpus audits, and search-style quality probes.
 * BM25 scoring (Robertson–Spärck Jones), with one deliberate variant: the
 * IDF keeps its RATIONAL core ((N - df + 0.5) / (df + 0.5)) instead of
 * wrapping it in a log. Rationale: every arithmetic node is then a single
 * IEEE-754 +,-,*,/ — all correctly rounded and therefore bit-identical
 * across engines with the same expression tree — where log is
 * library-dependent (java.lang.Math vs libm) and would make an exact
 * cross-engine oracle impossible. Per-query ranking is unchanged for
 * single-term queries (log is monotone) and near-identical in practice
 * for short queries; the variant is pinned in the scaladoc and the oracle
 * recomputes it node-for-node.
 *
 * Per-term contributions are quantized to BIGINT (floor(x · 2^20)) before
 * summing, so the per-doc score is an ORDER-INDEPENDENT integer sum — no
 * float-accumulation nondeterminism across partitionings (the
 * temperatureSample precedent).
 *
 * Scale shape at the design point:
 *   - one explode and one map-side-combined (doc_id, term) count per
 *     call; every statistic reads it through its tf column, so AQE
 *     reuses its one exchange (a branch pruning tf or pushing a term
 *     filter under it would re-tokenize; RetrievalSpec pins the plan),
 *   - bm25TopK counts non-query tokens under a null term: a task ships
 *     one row per (doc, query-term) hit plus one per doc,
 *   - query terms with their dfs, and the (N, total-token) scalar,
 *     broadcast (a query set is human-sized),
 *   - top-k per query (and per doc) is the bounded aggregate
 *     [[Skew.topK]]: a task sends at most k rows per key, so a query
 *     matching half the corpus never funnels through one task.
 */
object Retrieval {

  /** The one tokenization: (doc_id, term, tf) counts of the non-empty
    * lowercase whitespace tokens, each mapped by `term` first. */
  private def termCounts(docs: DataFrame, idCol: String, textCol: String,
                         term: Column => Column = identity) =
    docs.select(col(idCol).as("doc_id"),
        explode(split(lower(coalesce(col(textCol), lit(""))), "\\s+")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy(col("doc_id"), term(col("t")).as("term"))
      .agg(count(lit(1)).as("tf"))

  /** The rational IDF shared by both scorers (scaladoc above). */
  private def rationalIdf(nD: Column, dfD: Column) =
    ((nD - dfD) + lit(0.5)) / (dfD + lit(0.5))

  /** @param queries (query_id, terms); terms are matched post-lowercase.
    * Emits (query_id, doc_id, score, rnk) — top `k` (≥ 1) docs per query
    * by (score DESC, doc_id ASC, null first): the order of (-score,
    * doc_id), exact since scores (the quantized BM25 above) are sums of
    * floor(x · 2^20), x ≥ 0 (> -1 if a null id lifts df to N + 1). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: Seq[(String, Seq[String])], k: Int = 10): DataFrame = {
    val qdf = docs.sparkSession.createDataFrame(queries.flatMap {
      case (q, ts) => ts.map(t => (q, t)) }).toDF("query_id", "term")
    val tf = termCounts(docs, idCol, textCol,
      t => when(t.isin(queries.flatMap(_._2): _*), t))
    val hits = tf
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .filter(col("term").isNotNull)
    // df over tf (> 0) keeps the shared aggregate whole; joining null-safely
    // pushes no isnotnull(term) under its exchange (hits have no null term)
    val dfq = tf.groupBy(col("term")).agg(count_if(col("tf") > 0).as("df"))
    val g = tf.agg(countDistinct(col("doc_id")).as("n"), sum(col("tf")).as("tt"))
    val qd = broadcast(broadcast(qdf).join(dfq, qdf("term") <=> dfq("term"))
      .drop(dfq("term")))
    // every node below mirrors the oracle SQL exactly: same tree, same
    // parenthesization, float literals only where exactly representable
    // or correctly rounded identically by both parsers (1.2, 0.75, 0.5)
    val nD = col("n").cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val avgdl = col("tt").cast("double") / nD
    val idf = rationalIdf(nD, dfD)
    val tfs = (tfD * (lit(1.2) + lit(1.0))) /
      (tfD + lit(1.2) * ((lit(1.0) - lit(0.75)) + (lit(0.75) * dlD) / avgdl))
    val contrib = floor((idf * tfs) * lit(1048576.0)).cast("long")
    val scored = hits.join(qd, Seq("term"))
      .crossJoin(broadcast(g))
      .select(col("query_id"), col("doc_id"), contrib.as("contrib"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
    Skew.topKRows(scored, "query_id", k, -col("score"), col("doc_id"))
  }

  /** Per-doc TF-IDF keyword extraction — the tagging/topical-audit twin
    * of [[bm25TopK]]: every doc's `m` highest-scoring terms under
    * tf · rational-IDF, quantized to BIGINT with the same 2^20 grid so
    * the ranking is integer-exact and the oracle re-derives it. The
    * top-m per doc is one [[Skew.topK]] aggregate, read straight from its
    * sorted array. Emits (idCol, keywords, top_score) with keywords the
    * '|'-joined top-m (≥ 1) terms in (score DESC, term ASC) order. */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
                    m: Int = 3): DataFrame = {
    val tf = termCounts(docs, idCol, textCol)
    // N over tf as in bm25TopK; df is a term window (a join: +1 exchange)
    val g = tf.agg(countDistinct(when(col("tf") > 0, col("doc_id"))).as("n"))
    val nD = col("n").cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val q = floor((tfD * rationalIdf(nD, dfD)) * lit(1048576.0)).cast("long")
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(g))
      .groupBy(col("doc_id"))
      .agg(Skew.topK(struct((-q).as("neg"), col("term")), m).as("top"))
      .select(col("doc_id").as(idCol),
        array_join(col("top")("term"), "|").as("keywords"),
        (-col("top")(0)("neg")).as("top_score"))
  }
}
