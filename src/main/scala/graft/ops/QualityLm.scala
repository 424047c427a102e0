package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus-fit language-model quality scoring — the CCNet shape (Wenzek et
 * al. 2020: score every document against an LM fitted on a reference
 * corpus, then bucket head/middle/tail) re-expressed with EXACT integer
 * arithmetic so the score is bit-identical on every engine and cluster
 * size. Instead of float log-probabilities, each vocab token carries its
 * frequency RANK (1 = most common); a document's score is the sum of its
 * tokens' ranks (out-of-vocab = vocabSize+1), and the head/middle cuts
 * are cross-multiplied mean-rank thresholds (`rank_sum·div < n_tokens·V`)
 * — the same no-float discipline as
 * [[graft.textstats.TextAnalysis.repetition]]. Rank-sum and
 * log-prob-sum order documents near-identically under Zipf (rank and
 * -log p are monotone in each other), which is all the bucketing uses.
 *
 * Scale shape at 10^12 docs:
 *  - fit: the token-count aggregate partial-aggregates map-side (the
 *    shuffle carries (token, count), bounded by DISTINCT tokens per
 *    mapper, not token occurrences); the global top-V is a distributed
 *    TakeOrderedAndProject (per-partition top-V merged on the driver),
 *    so no single task ever sees the full distinct-token set, and the
 *    driver holds exactly vocabSize rows;
 *  - score: per-doc term frequencies aggregate locally per (id, token)
 *    first, the pruned vocab broadcasts (≤ vocabSize rows), and the
 *    final per-doc aggregate ships three longs per doc. Text never
 *    enters any shuffle.
 */
object QualityLm {

  /** The shared tokenizer (fit + score + the DuckDB oracle re-derivation):
    * lowercase, split on runs outside [a-z0-9], drop empties.
    * `array_remove(.., "")` rather than `filter(.., t -> t != "")`:
    * identical result (split yields no NULL elements), but ArrayRemove is
    * codegen'd while the HOF filter is CodegenFallback — an interpreted
    * lambda per token per doc (guide §4). Private so that only this
    * `split` ever feeds it: a caller-built array could carry NULL elements,
    * which `array_remove` would keep. */
  private def tokens(text: Column): Column =
    array_remove(split(lower(text), "[^a-z0-9]+"), "")

  /** Fit the unigram vocab: top `vocabSize` tokens by (count desc, token
    * asc — deterministic tie-break), ranked 1..V. `minCount` drops the
    * hapax tail before the global ranking (Zipf: singletons are most of
    * the DISTINCT mass but none of the probability mass).
    *
    * The global top-V is `orderBy().limit()` — Spark plans that as a
    * distributed TakeOrderedAndProject (per-partition top-V, merged on
    * the driver), NOT a single-partition sort; ranks are then assigned
    * over the ≤ vocabSize collected rows. Driver memory is bounded by
    * the vocabSize CONSTANT, never by the distinct-token count (billions
    * at web scale — a global ranking window there is a scale-killer). */
  def fitUnigram(ref: DataFrame, textCol: String = "text",
                 vocabSize: Int = 1000, minCount: Long = 1L): DataFrame = {
    val spark = ref.sparkSession
    import spark.implicits._
    val top = ref.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(desc("cnt"), asc("token")).limit(vocabSize)
      .as[(String, Long)].collect()
    val ranked = top.iterator.zipWithIndex
      .map { case ((t, c), i) => (t, c, i + 1) }.toSeq
    spark.createDataset(ranked).toDF("token", "cnt", "rank")
  }

  /** Score every document against a fitted vocab. Emits one row per input
    * doc: (id, n_tokens, n_oov, rank_sum, bucket) where
    * bucket = head  if rank_sum·headDiv < n_tokens·vocabSize
    *          middle if rank_sum·midDiv < n_tokens·vocabSize
    *          tail   otherwise (and for token-less docs).
    * All longs — no division anywhere. */
  def scoreDocs(docs: DataFrame, vocab: DataFrame,
                idCol: String = "doc_id", textCol: String = "text",
                vocabSize: Int = 1000,
                headDiv: Int = 8, midDiv: Int = 2): DataFrame = {
    val oov = lit(vocabSize + 1L)
    val tf = docs
      .select(col(idCol).as("__id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("__id"), col("token")).agg(count(lit(1)).as("tf"))
    val scored = tf
      .join(broadcast(vocab.select(col("token"), col("rank"))), Seq("token"), "left_outer")
      .groupBy(col("__id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("rank").isNull, col("tf")).otherwise(lit(0L))).as("n_oov"),
        sum(col("tf") * coalesce(col("rank").cast("long"), oov)).as("rank_sum"))
    docs.select(col(idCol).as("__id"))
      .join(scored, Seq("__id"), "left_outer")
      .select(col("__id").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("rank_sum"), lit(0L)).as("rank_sum"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0, "tail")
          .when(col("rank_sum") * headDiv < col("n_tokens") * vocabSize, "head")
          .when(col("rank_sum") * midDiv < col("n_tokens") * vocabSize, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** fit-on-self convenience (CCNet fits on a curated reference corpus;
    * self-fit is the bootstrap when none exists yet). */
  def scoreSelfFit(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", vocabSize: Int = 1000,
                   minCount: Long = 1L,
                   headDiv: Int = 8, midDiv: Int = 2): DataFrame =
    scoreDocs(docs, fitUnigram(docs, textCol, vocabSize, minCount),
      idCol, textCol, vocabSize, headDiv, midDiv)

  /** Train a supervised quality classifier — the GPT-3/PaLM-style "does
    * this look like the reference corpus?" gate (Brown et al. 2020 §A
    * trained logistic regression on hashed features; the engine-exact
    * equivalent here is Bernoulli Naive Bayes with INTEGER log-odds):
    * per token, w = floor(log2(n_pos+1)) − floor(log2(n_neg+1)), computed
    * EXACTLY as length(bin(n+1)) differences — the same no-transcendental
    * discipline as the rank-sum LM (float log is libm-dependent; bin() is
    * proven identical cross-engine). Bernoulli (per-doc DISTINCT tokens)
    * rather than multinomial so token-repetition spam cannot inflate its
    * own evidence. Rows whose label is NULL train neither side.
    *
    * Scale shape: explode→distinct carries (id, bool, token) — partial
    * dedup map-side, bounded by distinct tokens per doc — then one
    * map-side-combinable count pair per token. Model size = distinct
    * corpus tokens. Emits (token, n_pos, n_neg, w). */
  def trainNbQuality(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     labelCol: String = "label"): DataFrame =
    docs.select(col(idCol).as("__id"), col(labelCol).as("__pos"),
        explode(tokens(col(textCol))).as("token"))
      .distinct()
      .groupBy(col("token"))
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("__pos"), 1L).otherwise(0L)).as("n_neg"))
      .withColumn("w",
        (length(bin(col("n_pos") + lit(1L))) -
          length(bin(col("n_neg") + lit(1L)))).cast("int"))

  /** Score docs against a [[trainNbQuality]] model: per-doc distinct
    * tokens join the (token, w) frame — an honest shuffle join, the vocab
    * is corpus-sized (AQE broadcasts it when a pruned model is small) —
    * then one map-side-combinable sum per doc; docs with no known token
    * score 0. The class prior is a constant shift, deliberately omitted:
    * it cannot change the ORDER of documents, and thresholding is the
    * caller's policy anyway (`predicted` uses 0, the balanced-prior
    * fence). Emits (idCol, n_scored, score, predicted). */
  def scoreNbQuality(docs: DataFrame, model: DataFrame,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("__id"),
        explode(tokens(col(textCol))).as("token"))
      .distinct()
    val sc = toks.join(model.select(col("token"), col("w")), "token")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("__n"), sum(col("w")).as("__score"))
    docs.select(col(idCol))
      .join(sc, col(idCol) === col("__id"), "left_outer")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_scored"),
        coalesce(col("__score"), lit(0L)).as("score"))
      .withColumn("predicted", col("score") > lit(0L))
  }
}
