package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity}
import graft.pipeline.{Extract, ExtractedPage, PagesGen}
import graft.queries.{Graph, Query}

/**
 * Driver contract (SURVEY §5.3): every operator from the SURVEY §2
 * inventory exposed as a named query over the /root/testdata parquet
 * tables (or the deterministic synthetic pages table), each with a DuckDB
 * oracle.
 *
 * Oracle strategy for non-SQL-expressible operators (VERDICT r01 next #1):
 * `Verify` materializes SIDE TABLES under `sideDir` — extraction outputs
 * written through the full `Extract.run` pipeline, per-row scalars
 * (fingerprints, simhash blocks, LSH bands, shingle sets, cosines)
 * precomputed as columns — and the oracle SQL re-derives each query's
 * RELATIONAL part (joins, pair generation, rollups, top-k) in DuckDB over
 * those side tables. The per-row scalar core stays gated by the CPython
 * golden suites; the compare additionally pins write-path ≡ map-path
 * equivalence and cross-engine relational semantics.
 *
 * Determinism rules: every computed double is round()ed identically on
 * both sides (HALF_UP); every top-k has a total tie-break; timestamps run
 * under UTC.
 */
object SparkEntry {

  /** Where Verify materializes the oracle side tables; the oracle SQL
    * references it by absolute path (read_parquet). */
  val sideDir: String = sys.env.getOrElse("GRAFT_SIDE_DIR", "/tmp/graft_side")

  /** Rows of the synthetic pages table the extraction queries/side tables
    * run over (one `Extract.run` feeds every extraction side table). */
  private[graft] val ExtractN = 200L

  /** Crawl identity for q_robots_filter; its lowered product token
    * ("graftbot") is a LITERAL in the DuckDB oracle — keep in sync. */
  private[graft] val RobotsAgent = "GraftBot/1.0 (+https://graft.example/bot)"

  /** Pages in the synthetic WARC archive (q_warc_records + side_warc_*). */
  private[graft] val WarcN = 120

  /** Base-page count of the q_failure_classes poisoned corpus. */
  private[graft] val PoisonN = 60L

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Flagship: full extraction pipeline over a self-generated pages table
    * (no external data); driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    extractedPersisted(spark)
      .map(_.doc)
      .select($"url", $"content_sha256", $"content_kind", $"url_bucket",
        length($"text").as("text_len"), $"parse_failed")
      .toDF()
  }

  // ---------- shared builders (queries + SideTables use the SAME params) ----------

  /** One in-memory extraction pass, persisted — ALL extraction-backed
    * queries (entry/q_extract_docs/links/meta/link_report/canonical_groups)
    * share a single parse of the corpus (VERDICT r01 wrong #4, r02 wrong
    * #2). Memoized PER SESSION on the Dataset instance: typed-map plans
    * embed fresh closure objects per call, so CacheManager plan equality
    * alone would NOT dedupe repeated builds — returning the same instance
    * guarantees one cache entry and one extraction job per session
    * (SharedExtractionSpec pins this with an extraction-call counter). */
  private val extractedMemo =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Dataset[ExtractedPage]]()

  private[graft] def extractedPersisted(s: SparkSession): Dataset[ExtractedPage] = {
    // evict entries whose session has stopped (their cached blocks are
    // gone) — a WeakHashMap cannot do this because the Dataset value holds
    // its session strongly, so entries would never be collected
    val it = extractedMemo.keySet.iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
    extractedMemo.computeIfAbsent(s, k =>
      Extract.extract(Extract.latestPerUrl(PagesGen.pages(k, ExtractN)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Snapshot pairs of every changed url (old/new decoded content).
    * Shuffle-slim (VERDICT r02 wrong #4): the min/max aggregate runs over
    * (url, ts) keys only — never the payload — then contents join back
    * via a BROADCAST of the (tiny) multi-snapshot candidate keys, so only
    * the changed slice's payloads ever move. (url, ts) is unique in the
    * snapshot corpus, so key-aggregation picks the same old/new rows the
    * payload-struct aggregate did; content equality is still compared
    * EXACTLY, on the joined-back strings. */
  private[graft] def changedSnapshotPairs(s: SparkSession): DataFrame = {
    import s.implicits._
    val pages = PagesGen.pages(s, ExtractN)
    val byUrl = pages.map(p => (p.url, p.warc_ts.getTime,
        new String(p.html, java.nio.charset.StandardCharsets.UTF_8)))
      .toDF("url", "ts", "content")
    val cand = byUrl.groupBy($"url").agg(
        min($"ts").as("ots"), max($"ts").as("nts"))
      .filter($"ots" =!= $"nts")
      .select($"url".as("c_url"), $"ots", $"nts")
    byUrl.join(broadcast(cand), $"url" === $"c_url")
      .filter($"ts" === $"ots" || $"ts" === $"nts")
      .groupBy($"url").agg(
        max(when($"ts" === $"ots", $"content")).as("old_c"),
        max(when($"ts" === $"nts", $"content")).as("new_c"))
      .filter($"old_c" =!= $"new_c")
      .select($"url", $"old_c", $"new_c")
  }

  /** Myers diff summary per changed url via the full `generate_diff`
    * document struct (metadata md5s + ops; crash parity per-row). */
  private[graft] def snapshotDiffSummary(s: SparkSession): DataFrame = {
    import s.implicits._
    changedSnapshotPairs(s).as[(String, String, String)].map { case (url, o, n) =>
      try {
        val fd = graft.diff.Myers.diffDocument(o, n, url, "v1", "1970-01-01T00:00:00")
        (url, fd.operations.length, fd.operations.count(_.operation == "replace"),
          graft.diff.Myers.optimizedChunks(o, n).length, false,
          fd.metadata.old_content_hash, fd.metadata.new_content_hash)
      } catch {
        case _: Exception => (url, -1, -1, -1, true, null, null)
      }
    }.toDF("url", "n_ops", "n_replace", "n_changed_chunks", "diff_failed",
      "old_md5", "new_md5")
  }

  private[graft] def boilerFrame(s: SparkSession): DataFrame = {
    import s.implicits._
    PagesGen.pages(s, ExtractN)
      .filter((p: graft.pipeline.PageRow) => p.url.endsWith(".html"))
      .map { p =>
        val mc = graft.clean.Boilerplate.mainContentFromHtml(
          graft.html.HtmlParser.decode(p.html))
        (p.url, mc.blocks, mc.strippedElements, mc.totalChars)
      }.toDF("url", "blocks", "stripped_elements", "main_chars")
  }

  private[graft] def mediaFrame(s: SparkSession): DataFrame = {
    val media = graft.ops.Multimodal.syntheticMedia(s, 200)
    graft.ops.Multimodal.withMediaFeatures(media, "payload")
      .select(col("media_id"), col("media_meta.kind").as("kind"),
        col("media_meta.width").as("width"), col("media_meta.height").as("height"),
        col("media_meta.sample_rate").as("sample_rate"),
        col("media_meta.channels").as("channels"),
        col("media_meta.duration_ms").as("duration_ms"),
        round(element_at(col("features"), 1), 5).as("f0"))
  }

  /** Resized media (stub transform, real metadata/plumbing): the oracle
    * recomputes byte length + md5-over-hex from the raw resized payload. */
  private[graft] def mediaResizedFrame(s: SparkSession): DataFrame =
    graft.ops.Multimodal.withResized(
        graft.ops.Multimodal.syntheticMedia(s, 200), "payload", 32, 24)
      .select(col("media_id"),
        col("resized_meta.width").as("width"),
        col("resized_meta.height").as("height"),
        col("resized_meta.n_bytes").as("n_bytes"),
        md5(hex(col("resized"))).as("payload_md5h"))

  /** Per-frame rows from the stub video sampler (4 frames @ 40ms). */
  private[graft] def mediaFramesFrame(s: SparkSession): DataFrame =
    graft.ops.Multimodal.explodeFrames(
        graft.ops.Multimodal.withSampledFrames(
          graft.ops.Multimodal.syntheticMedia(s, 100), "payload", 4, 40L),
        "media_id")
      .select(col("media_id"), col("frame_idx"), col("ts_ms"),
        length(col("frame")).cast("long").as("n_bytes"),
        md5(hex(col("frame"))).as("frame_md5h"))

  private[graft] def textstatsFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .map { case (id, lang, text) =>
        (id, lang, graft.textstats.TextAnalysis.detectLanguage(text),
          graft.textstats.TextAnalysis.bpeishTokenCount(text))
      }.toDF("doc_id", "lang", "lang_detected", "bpeish_tokens")
  }

  /** Pinned scalar for q_compression_ratio: zlib level-6 size per doc
    * (golden-gated vs CPython zlib); the oracle re-derives n_bytes,
    * ratio, and both flags independently and joins this one column. */
  private[graft] def zlibFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val b = if (text == null) Array.emptyByteArray
          else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        (id, graft.textstats.TextAnalysis.zlibCompressedSize(b))
      }.toDF("doc_id", "n_compressed")
  }

  /** Deterministic CDX(J) line corpus for q_cdx_parse: well-formed index
    * lines built from doc_id arithmetic plus planted garbage rows
    * (doc_id ≡ 0 mod 13); the oracle computes the EXPECTED parse output
    * directly from documents, so the parser is gated field-by-field. */
  private[graft] def cdxCorpus(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val h2 = lpad(pmod(id, lit(24)).cast("string"), 2, "0")
    val line = when(pmod(id, lit(13)) === 0,
        concat(lit("garbage line nojson"), id.cast("string")))
      .otherwise(concat(
        lit("com,h"), pmod(id, lit(40)).cast("string"), lit(")/p"),
        id.cast("string"),
        lit(" 20240315"), h2, lit("0000"),
        lit(" {\"url\":\"https://h"), pmod(id, lit(40)).cast("string"),
        lit(".test/p"), id.cast("string"),
        lit("\",\"mime\":\"text/html\",\"status\":\"200\",\"digest\":\"D"),
        id.cast("string"),
        lit("\",\"length\":\""), (pmod(id, lit(1000)) + 100).cast("string"),
        lit("\",\"offset\":\""), (id * 17).cast("string"),
        lit("\",\"filename\":\"crawl-"), pmod(id, lit(5)).cast("string"),
        lit(".warc.gz\"}")))
    t(s, dir, "documents").select(line.as("line"))
  }

  private[graft] def queryVec(s: SparkSession, dir: String): Array[Float] =
    t(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

  /** Persisted ANN index for the sf dir (built once, partition-pruned
    * reads after — the scale path; VERDICT r01 wrong #3). */
  private[graft] def annIndexPath(dir: String): String =
    s"/tmp/graft_ann_idx_${Integer.toHexString((dir + "#b8s42").hashCode)}"

  private[graft] def ensureAnnIndex(s: SparkSession, dir: String): String = {
    val path = annIndexPath(dir)
    if (!new java.io.File(s"$path/_SUCCESS").exists())
      Similarity.writeBucketed(t(s, dir, "embeddings").filter(col("vec_id") =!= 0),
        path, "embedding", bits = 8)
    path
  }

  /** Deterministic IVF centroids for the sf dir (k=16, 5 Lloyd iters). */
  private[graft] def ivfCentroids(s: SparkSession, dir: String): Array[Array[Float]] =
    Similarity.trainIvfCentroids(t(s, dir, "embeddings").filter(col("vec_id") =!= 0),
      "vec_id", "embedding", k = 16, iters = 5)

  private[graft] def ensureIvfIndex(s: SparkSession, dir: String,
                                    cents: Array[Array[Float]]): String = {
    val path = s"/tmp/graft_ivf_idx_${Integer.toHexString((dir + "#k16i5").hashCode)}"
    if (!new java.io.File(s"$path/_SUCCESS").exists())
      Similarity.writeIvf(t(s, dir, "embeddings").filter(col("vec_id") =!= 0),
        path, "embedding", cents)
    path
  }

  /** The queries held as [[graft.queries.Query]] values, one file per
    * domain; `queries` and `oracleSql` are the entries below plus views of
    * these. */
  private def registry: Seq[Query] = Graph.queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Query.merged(registry, _.run)(Map(
    // ---- aggregations (SURVEY §2.5) ----
    "q_agg_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("cnt"))
    }),
    "q_update_frequency" -> ((s, dir) => {
      t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"),
          datediff(to_date(max(col("ts"))), to_date(min(col("ts")))).as("span_days"))
        .withColumn("rate", round(col("cnt") / (col("span_days") + lit(1)), 4))
    }),
    "q_rollup_integrity" -> ((s, dir) => {
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("total"),
          sum(when(col("o_totalprice") > 150000, 1L).otherwise(0L)).as("big_orders"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("open_orders"),
          countDistinct(col("o_custkey")).as("n_cust"))
    }),
    "q_hourly_events" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
    }),
    "q_sessionize" -> ((s, dir) => {
      // 30-min inactivity-gap sessionization (ops.Sessions scaladoc);
      // the oracle re-derives the gap flags, running session counter,
      // and per-session rollup with DuckDB's own windows
      graft.ops.Sessions.sessionize(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type", gapSeconds = 1800L)
    }),

    // ---- dedup-to-latest / windows (SURVEY §2.5/2.6) ----
    "q_latest_per_key" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir, "orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    }),
    "q_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      t(s, dir, "events").filter(col("event_type") === "purchase")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("user_id"), col("event_id"), col("value"), col("rnk"))
    }),

    // ---- joins (SURVEY §2.4) ----
    "q_changed_rows" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val prev = li.filter(col("l_linenumber") === 1)
        .groupBy(col("l_orderkey")).agg(round(sum(col("l_quantity")), 2).as("old_qty"))
      val cur = li.filter(col("l_linenumber") === 2)
        .groupBy(col("l_orderkey")).agg(round(sum(col("l_quantity")), 2).as("new_qty"))
      cur.join(prev, Seq("l_orderkey"), "left_outer")
        .filter(col("old_qty").isNull || col("old_qty") =!= col("new_qty"))
        .select(col("l_orderkey"), col("new_qty"), col("old_qty"))
    }),
    "q_anti_visited" -> ((s, dir) => {
      val done = t(s, dir, "lineitem").filter(col("l_linenumber") === 3)
        .select(col("l_orderkey"))
      t(s, dir, "orders").join(done,
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderdate"))
    }),
    "q_headers_changed" -> ((s, dir) => {
      // page_headers precheck (SURVEY §2.2/§2.4; Headers.changedOnly):
      // deterministic stored/current header tables derived from orders —
      // %3 rows missing from the store (⇒ changed), %5 rows with a bumped
      // content_length (⇒ changed), %7 rows with NULL etags on BOTH sides
      // (⇒ unchanged: the reference's None == None)
      val o = t(s, dir, "orders")
      def headerShape(df: DataFrame, bumpLen: Boolean) = df.select(
        concat(lit("u"), col("o_orderkey")).as("url"),
        col("o_orderdate").cast("string").as("last_modified"),
        when(col("o_orderkey") % 7 === 0, lit(null: String))
          .otherwise(col("o_orderstatus")).as("etag"),
        (if (bumpLen)
          when(col("o_orderkey") % 5 === 0, floor(col("o_totalprice")).cast("long") + 1)
            .otherwise(floor(col("o_totalprice")).cast("long"))
        else floor(col("o_totalprice")).cast("long")).as("content_length"))
      graft.pipeline.Headers.changedOnly(
        headerShape(o, bumpLen = true),
        headerShape(o.filter(col("o_orderkey") % 3 =!= 0), bumpLen = false))
    }),
    "q_semi_live" -> ((s, dir) => {
      val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      t(s, dir, "customer").join(open,
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),
    "q_anchor_exists" -> ((s, dir) => {
      // anchor-existence analog: orders(join key) × broadcast nation dim
      val nations = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      t(s, dir, "customer")
        .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"), "left_outer")
        .select(col("c_custkey"), col("n_name"),
          col("n_nationkey").isNotNull.as("target_exists"))
    }),

    // ---- sorts / top-k (SURVEY §2.7) ----
    "q_topk_priority" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("priority_score",
          round(lit(1.0) + lit(0.3) * least(col("o_totalprice") / 200000.0, lit(1.0)) +
            when(col("o_orderpriority").startsWith("1"), 0.2).otherwise(0.0), 6))
        .orderBy(col("priority_score").desc, col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey"), col("o_totalprice"), col("priority_score"))
    }),

    // ---- set ops (SURVEY §2.8) ----
    "q_union_distinct" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_custkey").as("key"))
        .union(t(s, dir, "customer").select(col("c_custkey").as("key")))
        .distinct()
    }),

    // ---- training-data ops: documents table ----
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")),
    "q_token_counts" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.TrainingData.nTokens(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars_calc"))
    }),
    "q_bpe_merges" -> ((s, dir) => {
      // BPE merge-table training over the documents corpus (3 rounds,
      // minCount 2): the oracle re-derives word counts, code-point symbol
      // splitting, weighted pair counts, the (count, lhs, rhs) argmax,
      // and each merge APPLICATION (recursive leftmost collapse ==
      // single-pass BPE, the merged token being a fresh symbol) from the
      // raw documents table alone — no side tables
      graft.ops.Tokenizer.fitBpeMerges(
        s.read.parquet(s"$dir/documents.parquet"), "text",
        nMerges = 3, minCount = 2L)
    }),
    "q_bpe_tokenize" -> ((s, dir) => {
      // the trained merge table APPLIED back to the corpus: per-doc BPE
      // token counts; the oracle re-derives training AND application —
      // distinct words tokenized via the same recursive collapse, then
      // joined back and summed per doc
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val merges = graft.ops.Tokenizer
        .fitBpeMerges(docs, "text", nMerges = 3, minCount = 2L)
        .orderBy("merge_idx")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ops.Tokenizer.bpeTokenCounts(docs, "doc_id", "text", merges)
    }),
    "q_bpe_encode" -> ((s, dir) => {
      // the full tokenize-to-ids stage: train merges, induce the vocab
      // numbering, encode every doc; the md5 column pins each doc's
      // ENTIRE id sequence and the oracle re-derives training, vocab,
      // AND per-position encoding
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val merges = graft.ops.Tokenizer
        .fitBpeMerges(docs, "text", nMerges = 3, minCount = 2L)
        .orderBy("merge_idx")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ops.Tokenizer.encodeBpeIds(docs, "doc_id", "text", merges,
        graft.ops.Tokenizer.bpeVocab(docs, "text", merges))
    }),
    "q_quality_docs" -> ((s, dir) => {
      // shared ANSI-safe expressions (TrainingData): empty text → NULL
      // ratios, matching DuckDB's x/0 = NULL on the oracle side
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.TrainingData.alphaRatio(col("text")).as("alpha_ratio"),
        round(length(regexp_replace(col("text"), " ", "")).cast("double") /
          nullif(graft.ops.TrainingData.nTokens(col("text")), lit(0)), 4)
          .as("mean_token_len"))
    }),
    "q_lang_stats" -> ((s, dir) => {
      t(s, dir, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), round(avg(col("n_chars")), 4).as("avg_chars"),
          max(col("n_chars")).as("max_chars"))
    }),

    // ---- similarity search: embeddings table ----
    "q_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        queryVec(s, dir), 10)
    }),
    "q_ann_lsh_topk" -> ((s, dir) => {
      val idx = ensureAnnIndex(s, dir)
      Similarity.lshTopKIndexed(s, idx, "vec_id", "embedding",
        queryVec(s, dir), 10, bits = 8, nProbes = 4)
    }),
    "q_ann_ivf_topk" -> ((s, dir) => {
      val cents = ivfCentroids(s, dir)
      val idx = ensureIvfIndex(s, dir, cents)
      Similarity.ivfTopK(s, idx, "vec_id", "embedding",
        queryVec(s, dir), 10, cents, nProbes = 4)
    }),
    "q_embedding_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") =!= 0)
      val cands = Dedup.embeddingCandidatePairs(emb, "vec_id", "embedding",
        bits = 6, tables = 8)
      Dedup.verifyCosine(cands, emb, "vec_id", "embedding")
        .withColumn("near_dup", col("cos") >= 0.45)
        .orderBy(desc("cos"), col("id_a"), col("id_b")).limit(50)
    }),
    "q_semantic_dedup" -> ((s, dir) => {
      // SemDeDup over the shared deterministic IVF centroids (k=16) —
      // the oracle re-derives assignment, affinity ranking, every
      // within-cluster pairwise cosine, and the drop rule from the
      // exported centroid table (side_semcents) + raw embeddings alone
      val emb = t(s, dir, "embeddings").filter(col("vec_id") =!= 0)
      Dedup.semanticDropList(emb, "vec_id", "embedding",
          minCosine = 0.30, centroids = ivfCentroids(s, dir))
        .orderBy(col("drop_id"))
    }),

    // ---- extraction queries (oracled via Verify side tables) ----
    "q_extract_docs" -> ((s, _) => entry(s)),
    "q_failure_classes" -> ((s, _) => {
      // the failure-taxonomy rollup (reference error classes,
      // logging/custom_exceptions.py): the poisoned corpus through the
      // full extractor, grouped by the class column; the oracle derives
      // each row's expected class from the INPUT structure alone
      import s.implicits._
      Extract.extract(PagesGen.poisonedPages(s, PoisonN)).map(_.doc)
        .groupBy(col("failure_class"))
        .agg(count(lit(1)).as("n_docs"))
    }),
    "q_extract_links" -> ((s, _) => {
      import s.implicits._
      extractedPersisted(s)
        .flatMap(p => p.links.map(l =>
          (p.doc.url, l.dst_url, l.kind, l.src_tag, l.anchor, l.is_internal)))
        .toDF("src_url", "dst_url", "kind", "src_tag", "anchor", "is_internal")
    }),
    "q_host_demote" -> ((s, _) => {
      // failure taxonomy → next-plan feedback: the poisoned corpus's
      // all-failing host must demote, every healthy host must not; the
      // oracle re-derives failures from the INPUT structure (side_poison)
      import s.implicits._
      val docs = Extract.extract(PagesGen.poisonedPages(s, PoisonN))
        .map(_.doc).toDF()
        .select(col("url"),
          col("failure_class").isNotNull.cast("long").as("failed"))
      graft.ops.Frontier.demoteFailingHosts(docs, "url", "failed",
        maxFailedNum = 1, maxFailedDen = 5)
    }),
    "q_extract_meta" -> ((s, _) => {
      import s.implicits._
      extractedPersisted(s)
        .map(_.meta)
        .select($"url", $"title", $"description", $"keywords",
          $"last_modified_iso", $"canonical", $"lang",
          size($"structured_data").as("n_structured"))
        .toDF()
    }),
    "q_mirror_paths" -> ((s, _) => {
      import s.implicits._
      // filesystem-mirror path per extracted doc (core/scraper.py:484-497
      // save path + :236-239 read-back tail; VERDICT r03 next #6) — the
      // content type the reference's save branch keys on is recovered
      // from the sniffed content kind
      extractedPersisted(s).map { e =>
        val mime = graft.url.MirrorPath.mimeForKind(e.doc.content_kind)
        (e.doc.url, e.doc.content_kind,
          graft.url.MirrorPath.relativePath(e.doc.url, mime),
          graft.url.MirrorPath.contentFilepath("", "site", "v1", e.doc.url))
      }.toDF("url", "content_kind", "mirror_path", "raw_read_path")
    }),
    "q_snapshot_diff_ops" -> ((s, _) => snapshotDiffSummary(s)),
    "q_frontier_schedule" -> ((s, _) => {
      // politeness plan over the REAL extracted frontier (distinct link
      // destinations): md5-derived deterministic priorities, 5 workers
      // (the reference's --max_workers), 3000 ms (its --initial_delay)
      import s.implicits._
      val frontier = extractedPersisted(s)
        .flatMap(p => p.links.map(_.dst_url))
        .toDF("url").distinct()
        .withColumn("priority_score",
          pmod(conv(substring(md5(col("url")), 1, 8), 16, 10).cast("long"),
            lit(1000L)).cast("int"))
      graft.ops.Frontier.politenessSchedule(frontier, numWorkers = 5,
        delayMs = 3000L)
    }),
    "q_robots_filter" -> ((s, _) => {
      // robots gate over the REAL extracted frontier against a
      // deterministic synthetic robots corpus (one md5-assigned template
      // per host — all 8 decision branches represented); the oracle
      // re-derives agent→entry selection, the first-match prefix scan,
      // and the read()-status flags relationally from the parsed tables
      import s.implicits._
      val frontier = extractedPersisted(s)
        .flatMap(p => p.links.map(_.dst_url))
        .toDF("url").distinct()
      // ONE frontierPaths pass feeds both the robots-corpus host set and
      // the filter itself (persisted: the two consumers are separate plan
      // branches; r6 — the convenience overload re-ran the typed
      // match-path map and the frontier distinct per branch)
      val paths = graft.ops.Frontier.frontierPaths(frontier)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val robots = graft.ops.Frontier.syntheticRobots(paths, "host")
      graft.ops.Frontier.robotsFilterOn(paths, robots, RobotsAgent)
    }),
    "q_crawl_plan" -> ((s, _) => {
      // the composed pre-fetch plan: robots gate -> per-host clamped
      // crawl-delay -> politeness schedule, over the real extracted
      // frontier; the oracle composes the q_robots_filter and
      // q_frontier_schedule derivations end-to-end
      import s.implicits._
      // persisted: consumed by the match-path map, the robots host set,
      // and crawlPlan's priority join-back — three plan branches that
      // each re-ran the flatMap+distinct before (r6)
      val frontier = extractedPersisted(s)
        .flatMap(p => p.links.map(_.dst_url))
        .toDF("url").distinct()
        .withColumn("priority_score",
          pmod(conv(substring(md5(col("url")), 1, 8), 16, 10).cast("long"),
            lit(1000L)).cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val paths = graft.ops.Frontier.frontierPaths(frontier)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val robots = graft.ops.Frontier.syntheticRobots(paths, "host")
      graft.ops.Frontier.crawlPlan(frontier, robots, RobotsAgent,
        paths = Some(paths))
    }),
    "q_warc_records" -> ((s, _) => {
      // raw Common-Crawl-shaped ingestion: the synthetic WARC archive
      // (one broken record for the resync probe) scanned into records +
      // the HTTP envelope; the oracle re-derives EVERYTHING except the
      // exported boundary triples (rec_idx, rec_offset, total_len) from
      // the raw file hex — headers, Content-Length, status, mime, body
      // digest — and the boundary export itself is pinned by the offset
      // tiling condition inside the oracle's derivation
      import s.implicits._
      val recs = graft.sources.Warc.records(
        graft.sources.Warc.syntheticWarcFrame(s, WarcN, withBroken = true))
      recs.map { r =>
        def hexOf(b: Array[Byte]): String = {
          val sb = new java.lang.StringBuilder(b.length * 2)
          b.foreach(x => sb.append("%02x".format(x & 0xff)))
          sb.toString
        }
        def shaOfHex(h: String): String =
          hexOf(java.security.MessageDigest.getInstance("SHA-256")
            .digest(h.getBytes("US-ASCII")))
        if (r.parse_error != null)
          (r.rec_idx, r.offset, r.total_len, r.parse_error, null: String,
            null: String, null: String, null: String, None: Option[Long],
            None: Option[Int], null: String, None: Option[Long], null: String)
        else {
          val http =
            if (r.warc_type == "response")
              Some(graft.sources.Warc.parseHttpResponse(r.payload))
                .filter(_.error == null)
            else None
          val bodyHex = http.map(h => hexOf(h.body))
          (r.rec_idx, r.offset, r.total_len, null: String, r.warc_type,
            r.target_uri, r.warc_date, r.record_id, Some(r.content_length),
            http.map(_.status),
            http.flatMap(_.headers.collectFirst {
              case (n, v) if n.equalsIgnoreCase("Content-Type") => v
            }).orNull,
            http.map(_.body.length.toLong),
            // digest of the lowercase HEX (DuckDB 1.0's sha256 is
            // VARCHAR-only, the established q_media_resize idiom)
            bodyHex.map(shaOfHex).orNull)
        }
      }.toDF("rec_idx", "rec_offset", "total_len", "parse_error", "warc_type",
        "target_uri", "warc_date", "record_id", "content_length",
        "http_status", "mime", "body_len", "body_sha256")
    }),
    "q_boilerplate_main" -> ((s, _) => boilerFrame(s)),
    "q_media_features" -> ((s, _) => mediaFrame(s)),
    "q_media_resize" -> ((s, _) => mediaResizedFrame(s)),
    "q_media_frames" -> ((s, _) => mediaFramesFrame(s)),

    // ---- dedup / fingerprints / text stats (oracled via side tables) ----
    "q_minhash_lsh_pairs" -> ((s, dir) => {
      val cands = Dedup.lshCandidatePairs(t(s, dir, "documents"), "doc_id", "text",
        numPerm = 32, bands = 16)
      Dedup.verifyJaccard(cands, t(s, dir, "documents"), "doc_id", "text")
        .orderBy(desc("jaccard"), col("id_a"), col("id_b")).limit(50)
    }),
    "q_lsh_incremental" -> ((s, dir) => {
      // continuous-crawl shape: corpus = doc_id % 3 != 0 (its band index is
      // built separately, as a persisted index would be), new batch = the
      // rest; only new–new / new–old candidates may be emitted
      val docs = t(s, dir, "documents")
      val idxFps = Dedup.fingerprints(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0), "doc_id", "text", numPerm = 32)
      Dedup.incrementalLshPairs(
          docs.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text",
          Dedup.minhashBands(idxFps, bands = 16),
          idxFps.select(col("id"), col("minhash")), numPerm = 32, bands = 16)
        .orderBy(desc("est_jaccard"), col("id_a"), col("id_b")).limit(100)
    }),
    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy(col("hamming"), col("id_a"), col("id_b")).limit(50)),
    "q_doc_fingerprints" -> ((s, dir) =>
      Dedup.fingerprints(t(s, dir, "documents"), "doc_id", "text", numPerm = 32)
        .select(col("id"), col("simhash"), col("n_shingles"))),
    "q_lang_detect" -> ((s, dir) => textstatsFrame(s, dir)),
    "q_training_prep" -> ((s, dir) =>
      graft.ops.TrainingData.prepare(t(s, dir, "documents"))),
    "q_pii_mask" -> ((s, dir) => {
      // input = the deterministic PII-bearing corpus (also written as
      // side_pii_docs; the oracle re-derives mask + counts in DuckDB)
      val c = piiCorpus(s, dir)
      c.select(col("doc_id"),
        graft.ops.Privacy.maskPii(col("text")).as("text_masked"),
        graft.ops.Privacy.emailCount(col("text")).as("n_emails"),
        graft.ops.Privacy.ipv4Count(col("text")).as("n_ips"),
        graft.ops.Privacy.ssnCount(col("text")).as("n_ssns"),
        graft.ops.Privacy.ccardCount(col("text")).as("n_ccards"),
        graft.ops.Privacy.phoneCount(col("text")).as("n_phones"))
    }),
    "q_paragraph_dedup" -> ((s, dir) =>
      Dedup.paragraphDedup(paraCorpus(s, dir), "doc_id", "text", maxDocs = 2)),
    "q_winnow_overlap" -> ((s, dir) =>
      // MOSS copy evidence over the planted shared-paragraph corpus: the
      // universal boilerplate paragraph must be killed by the
      // stop-fingerprint filter, the 1/3- and 1/5-shared paragraphs must
      // surface as pairs; oracle re-derives filter+join+counts from
      // side_winnow
      Dedup.winnowOverlap(paraCorpus(s, dir), "doc_id", "text",
        maxDocFreq = 200L, minShared = 4L)),
    "q_dedup_components" -> ((s, dir) =>
      Dedup.connectedComponents(dupPairsCorpus(s, dir))),
    "q_neardup_drops" -> ((s, dir) =>
      Dedup.nearDupDropList(t(s, dir, "documents"), "doc_id", "text",
        numPerm = 32, bands = 16, minJaccard = 0.7)),
    "q_sample_hash" -> ((s, dir) =>
      graft.ops.TrainingData.deterministicSample(
          t(s, dir, "documents"), "doc_id", "s1", "4")
        .select(col("doc_id"), col("source"))),
    "q_hll_distinct" -> ((s, dir) =>
      // engine-portable HyperLogLog over document texts; the oracle
      // re-derives every register and the fixed-point indicator sum
      graft.ops.Sketch.hllDistinct(t(s, dir, "documents"), "text", p = 8)),
    "q_cdx_parse" -> ((s, dir) =>
      // CC index-line parsing incl. planted garbage rows; the oracle
      // computes the expected field values straight from doc_id
      graft.sources.Cdx.parse(cdxCorpus(s, dir))),
    "q_jsonl_roundtrip" -> ((s, dir) => {
      // trainer-handoff fidelity: write documents as JSONL, read the
      // files back through the JSON parser, compare to the source rows —
      // escaping, nulls, and numeric round-tripping all under the hash
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      // per-sfDir output path (+ env override): two concurrent runs over
      // different sf dirs must not race on one fixed /tmp dir — one run's
      // overwrite could delete files the other is reading back (ADVICE r5)
      val out = sys.env.getOrElse("GRAFT_JSONL_DIR",
        s"/tmp/graft_jsonl_${Integer.toHexString(dir.hashCode)}") + "/documents"
      graft.pipeline.JsonlSink.write(d, out)
      graft.pipeline.JsonlSink.read(s, out, d.schema)
    }),
    "q_datasheet" -> ((s, dir) => {
      // the one-row corpus datasheet a governance snapshot publishes:
      // exact integer totals + the portable-HLL distinct-text estimate;
      // the oracle re-derives every scalar including the sketch
      val d = t(s, dir, "documents")
      d.agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("source")).as("n_sources"),
          sum(graft.ops.TrainingData.nTokens(col("text")).cast("long"))
            .as("total_tokens"),
          sum(length(col("text")).cast("long")).as("total_chars"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_english"))
        .crossJoin(broadcast(graft.ops.Sketch.hllDistinct(d, "text")
          .select(col("estimate").as("distinct_text_estimate"))))
    }),
    "q_hll_merge" -> ((s, dir) => {
      // distributivity gate: sketch each doc_id-parity half separately,
      // merge by register max, estimate — must equal q_hll_distinct
      val d = t(s, dir, "documents")
      val even = graft.ops.Sketch.hllRegisters(
        d.filter(col("doc_id") % 2 === 0), "text")
      val odd = graft.ops.Sketch.hllRegisters(
        d.filter(col("doc_id") % 2 === 1), "text")
      graft.ops.Sketch.hllEstimate(graft.ops.Sketch.hllMerge(Seq(even, odd)))
    }),
    "q_top_ngrams" -> ((s, dir) =>
      // corpus boilerplate-phrase mining: top-20 3-grams by occurrence
      graft.ops.TrainingData.topNgrams(
        t(s, dir, "documents"), "doc_id", "text", n = 3, k = 20)),
    "q_split_assign" -> ((s, dir) =>
      // leak-free hold-out: the split key is the SOURCE, so correlated
      // same-site documents can never straddle the train/val/test fence;
      // the oracle re-derives bucket + fence from documents alone
      graft.ops.TrainingData.splitAssign(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", valPermille = 100, testPermille = 100)
        .select(col("doc_id"), col("source"), col("split_bucket"),
          col("split"))),
    "q_split_leakage" -> ((s, dir) => {
      // the audit closing the splitAssign loop: near-dup pairs counted
      // per canonical split combination; oracle re-derives fence + rollup
      val assign = graft.ops.TrainingData.splitAssign(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", valPermille = 100, testPermille = 100)
        .select(col("doc_id"), col("split"))
      graft.ops.TrainingData.splitLeakage(dupPairsCorpus(s, dir), assign)
    }),
    "q_source_quota" -> ((s, dir) =>
      graft.ops.TrainingData.sourceQuota(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", k = 3)),
    "q_decontaminate" -> ((s, dir) =>
      graft.ops.TrainingData.decontaminate(
        t(s, dir, "documents"), benchCorpus(s, dir))),
    "q_repetition" -> ((s, dir) => {
      import s.implicits._
      repCorpus(s, dir).as[(Long, String)].map { case (id, text) =>
        val r = graft.textstats.TextAnalysis.repetition(text)
        (id, r.nLines, r.dupLines, r.lineChars, r.dupLineChars,
          r.nParas, r.dupParas, r.paraChars, r.dupParaChars,
          r.tokChars, r.top2Chars, r.top3Chars, r.top4Chars, r.repetitious)
      }.toDF("doc_id", "n_lines", "dup_lines", "line_chars", "dup_line_chars",
        "n_paras", "dup_paras", "para_chars", "dup_para_chars",
        "tok_chars", "top2_chars", "top3_chars", "top4_chars", "repetitious")
    }),
    "q_seq_pack" -> ((s, dir) =>
      graft.ops.TrainingData.packSequences(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          graft.ops.TrainingData.nTokens(col("text")).as("n_tokens")),
        seqLen = 256, subStreams = 4)),
    "q_text_normalize" -> ((s, dir) => {
      import s.implicits._
      normCorpus(s, dir).as[(Long, String)].map { case (id, t0) =>
        val n = graft.textstats.TextAnalysis.normalizeForTraining(t0)
        (id, n, n != t0,
          t0.codePointCount(0, t0.length), n.codePointCount(0, n.length))
      }.toDF("doc_id", "text_norm", "changed", "n_cp_before", "n_cp_after")
    }),
    "q_dup_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(spanCorpus(s, dir), "doc_id", "text",
        k = 40, anchorLen = 8, anchorZeros = 1)),
    "q_lm_quality" -> ((s, dir) =>
      graft.ops.QualityLm.scoreSelfFit(t(s, dir, "documents"),
        vocabSize = 1000)),
    "q_compression_ratio" -> ((s, dir) => {
      // Gopher-style compressibility signal: the deflate size is the
      // golden-pinned scalar (CPython-zlib-identical); ratio + flags are
      // exact arithmetic the oracle re-derives from documents + side_zlib
      t(s, dir, "documents").select(col("doc_id"),
          length(to_binary(col("text"), lit("utf-8"))).cast("long")
            .as("n_bytes"))
        .join(zlibFrame(s, dir), "doc_id")
        .withColumn("ratio", col("n_compressed").cast("double") /
          nullif(col("n_bytes"), lit(0L)))
        .withColumn("repetitive",
          col("n_compressed") * lit(100L) < col("n_bytes") * lit(30L))
        .withColumn("noise_like",
          col("n_compressed") * lit(100L) > col("n_bytes") * lit(80L))
    }),
    "q_nb_quality" -> ((s, dir) => {
      // supervised quality gate: train on lang='en' as the positive
      // class, score the whole corpus; oracle re-trains AND re-scores
      val d = t(s, dir, "documents")
      graft.ops.QualityLm.scoreNbQuality(d,
        graft.ops.QualityLm.trainNbQuality(
          d.withColumn("label", col("lang") === "en")))
    }),
    "q_mix_corpus" -> ((s, dir) =>
      graft.ops.TrainingData.mixCorpus(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", mixWeights.toMap)),
    "q_shard_assign" -> ((s, dir) =>
      graft.ops.TrainingData.shardAssignments(
        t(s, dir, "documents").select(col("doc_id")),
        "doc_id", numShards = 8, subStreams = 4)),
    "q_corpus_delta" -> ((s, dir) =>
      graft.ops.TrainingData.corpusDelta(
        t(s, dir, "documents"), newCorpus(s, dir))),
    "q_source_stats" -> ((s, dir) =>
      graft.ops.TrainingData.sourceStats(srcDupCorpus(s, dir),
        dupNum = 1, dupDen = 5)),

    // ---- crawl scheduling / sources (SURVEY §2.7 faithful + §2.1) ----
    "q_priority_scores" -> ((s, _) => {
      import s.implicits._
      // history = the synthetic crawl snapshots; 'now' = newest + 1h
      val hist = PagesGen.pages(s, ExtractN)
        .select($"url", $"warc_ts".as("last_updated"))
      val asOf = hist.agg(max(unix_timestamp($"last_updated").cast("double")))
        .head().getDouble(0) + 3600.0
      val perUrl = hist.groupBy($"url").agg(count(lit(1)).as("n"),
        max(unix_timestamp($"last_updated").cast("double")).as("maxe"))
      // hash_info analog: last_modified known only for re-crawled urls
      val candidates = perUrl.select($"url",
        $"url".rlike("page[0-9]*0\\.html$").as("is_pagination"),
        when($"n" >= 2, $"maxe").otherwise(lit(null)).as("last_modified_epoch"))
      graft.ops.Priority.scores(candidates, hist, asOf)
    }),
    "q_sitemap_seeds" -> ((s, _) =>
      graft.sources.Sitemap.seedUrls(
        graft.sources.Sitemap.syntheticSitemapPages(s),
        "https://site.example.com/sitemap.xml")),

    // ---- snapshot time-travel + corpus shaping + corpus QA (r5) ----
    "q_asof_join" -> ((s, _) =>
      graft.ops.AsOfJoin.asofJoin(asofProbes(s), asofSnaps(s),
        keyCol = "url", probeIdCol = "probe_id", probeTsCol = "probe_ts",
        snapTsCol = "snap_ts", tieCol = "snap_id",
        payloadCols = Seq("sha"))),
    "q_temperature_sample" -> ((s, dir) =>
      graft.ops.TrainingData.temperatureSample(
        t(s, dir, "documents"), "source", "doc_id",
        alpha = 0.5, targetFrac = 0.5, salt = "temp")),
    "q_token_quantiles" -> ((s, dir) =>
      graft.ops.Stats.exactIntQuantiles(
        t(s, dir, "documents").select(
          graft.ops.TrainingData.nTokens(col("text")).as("n_tokens")),
        "n_tokens", Seq(0.25, 0.5, 0.75, 0.9, 0.99))),
    "q_encoding_quality" -> ((s, dir) =>
      // encoding-damage signals over the planted corpus (side_mojidocs);
      // the oracle runs the IDENTICAL RE2∩Java pattern strings in DuckDB
      graft.textstats.Encoding.encodingQuality(
        mojiCorpus(s, dir), "doc_id", "text")),
    "q_bm25_topk" -> ((s, dir) =>
      // rational-IDF BM25 top-10 per query (ops.Retrieval scaladoc — the
      // log-free engine-exact variant, per-term contributions quantized
      // to order-independent BIGINTs); the oracle recomputes the whole
      // index + scoring node-for-node in DuckDB
      graft.ops.Retrieval.bm25TopK(t(s, dir, "documents"),
        "doc_id", "text", retrievalQueries, k = 10)),
    "q_embedding_drift" -> ((s, dir) =>
      // per-label exact quantized centroids + the 10 lowest-affinity
      // vectors per label (ops.Drift); the oracle re-derives the
      // quantization, integer sums, centroid divisions, cosine, and
      // ascending rank in DuckDB from the raw embeddings alone
      graft.ops.Drift.centroidOutliers(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", k = 10)),
    "q_split_context" -> ((s, dir) =>
      // 16-token chunks with 4-token overlap (TrainingData.splitForContext
      // — non-redundant trailing-start rule); the oracle re-derives every
      // start index, slice, and canonical re-spaced chunk text
      graft.ops.TrainingData.splitForContext(t(s, dir, "documents"),
        "doc_id", "text", maxTokens = 16, overlap = 4)),
    "q_doc_keywords" -> ((s, dir) =>
      // top-3 TF-IDF keywords per doc on the bm25 grid (Retrieval
      // scaladoc); the oracle re-derives tf/df, the quantized scores,
      // and the (score DESC, term ASC) ranking in DuckDB
      graft.ops.Retrieval.tfidfKeywords(t(s, dir, "documents"),
        "doc_id", "text", m = 3)),
    "q_source_quantiles" -> ((s, dir) =>
      // per-source exact token-count quantiles (the grouped flavor of
      // q_token_quantiles; the ordered step is a per-group window, no
      // global single partition anywhere)
      graft.ops.Stats.exactIntQuantilesByGroup(
        t(s, dir, "documents").select(col("source"),
          graft.ops.TrainingData.nTokens(col("text")).as("n_tokens")),
        "source", "n_tokens", Seq(0.5, 0.9, 0.99))),
    "q_crawl_budget" -> ((s, dir) => {
      // largest-remainder allocation of a 137-page budget across sources;
      // prime budget forces nonzero remainders and a leftover
      graft.ops.Frontier.allocateBudget(
        t(s, dir, "documents").groupBy(col("source"))
          .agg(count(lit(1)).as("n_pages")),
        budget = 137L)
    }),
    "q_quantize_int8" -> ((s, dir) =>
      // int8 ANN storage audit; every scalar re-derived from embeddings
      graft.ops.Similarity.quantizeInt8(t(s, dir, "embeddings"))),
    "q_int8_topk" -> ((s, dir) =>
      // search OVER the quantized vectors: integer dot products, bit-exact
      // ranking; oracle re-quantizes corpus + query and re-ranks
      graft.ops.Similarity.int8TopK(t(s, dir, "embeddings"),
        "vec_id", "embedding", queryVec(s, dir), k = 10)),
    "q_url_patterns" -> ((s, _) => {
      import s.implicits._
      // crawl-trap families over the DISTINCT extracted link targets;
      // the oracle re-runs the template collapse (same regexes, 'g')
      // and host extraction over side_links
      val ex = extractedPersisted(s)
      val urls = ex.flatMap(p => p.links.map(_.dst_url)).toDF("url")
        .distinct()
      graft.ops.Frontier.urlPatternFamilies(urls, "url",
        trapThreshold = 20L)
    }),
    "q_media_decode" -> ((s, _) =>
      // REAL PNG pixel decode + area-average resize over the closed-form
      // two-tone corpus; the oracle computes every decoded and resized
      // channel sum by PURE ARITHMETIC from the id — no decoder in
      // DuckDB, so any pixel-level decode error hash-fails
      graft.ops.Multimodal.withDecodedSummary(
        graft.ops.Multimodal.syntheticRealPngs(s, 200),
        "media_id", "payload", targetW = 16, targetH = 8)),
    "q_audio_decode" -> ((s, _) =>
      // REAL 16-bit PCM decode; closed-form samples, arithmetic oracle
      graft.ops.Multimodal.withDecodedAudio(
        graft.ops.Multimodal.syntheticRealWavs(s, 200, samples = 256),
        "media_id", "payload"))
  ))

  /** Query set for q_bm25_topk — terms from the synthetic documents
    * vocabulary; shared by the Spark query and the oracle's VALUES. */
  private[graft] val retrievalQueries: Seq[(String, Seq[String])] = Seq(
    "q01" -> Seq("spark", "join"),
    "q02" -> Seq("window", "sort", "table"),
    "q03" -> Seq("vector", "stream"),
    "q04" -> Seq("customer", "query", "filter"),
    "q05" -> Seq("hash", "merge", "batch"))

  /** Deterministic encoding-damage corpus: by doc_id, 1/31 of docs get a
    * HEAVY mojibake tail (trips the 0.5% flag on ordinary lengths), the
    * rest rotate through replacement-char / 2-byte mojibake / 3-byte
    * mojibake / C1-control / clean tails (codepoints constructed
    * programmatically — no raw controls in source). Shared by
    * q_encoding_quality and SideTables (side_mojidocs). */
  private[graft] def mojiCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val id = col("doc_id")
    def cp(c: Int) = new String(Character.toChars(c))
    val rep = cp(0xFFFD)
    val moji2 = cp(0xC3) + cp(0xAF)            // Ã-lead 2-byte signature
    val moji3 = cp(0xE2) + cp(0x80) + cp(0x99) // â-lead 3-byte, C1 tails
    val heavy = (moji3 + "s " + moji2 + "x ") * 10
    val inj = when(pmod(id, lit(31)) === 0, lit(" " + heavy))
      .when(pmod(id, lit(5)) === 0, lit(" caf" + rep + " broken"))
      .when(pmod(id, lit(5)) === 1, lit(" na" + moji2 + "ve plan"))
      .when(pmod(id, lit(5)) === 2, lit(" it" + moji3 + "s quote"))
      .when(pmod(id, lit(5)) === 3, lit(" bad" + cp(0x85) + "line"))
      .otherwise(lit(" clean tail"))
    d.select(id, concat(substring(col("text"), 1, 150), inj).as("text"))
  }

  /** Deterministic PII-bearing corpus derived from the documents table —
    * no external data: per-doc email/IPv4 literals are arithmetic in
    * doc_id, with ~1/7 of docs email-free, ~1/3 carrying a second email,
    * and ~1/4 IP-free so the mask/count columns are non-degenerate.
    * Shared by q_pii_mask and SideTables (side_pii_docs). */
  private[graft] def piiCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val id = col("doc_id")
    val email = when(pmod(id, lit(7)) === 0, lit(""))
      .otherwise(concat(lit(" contact user"), id.cast("string"),
        lit("@example"), pmod(id, lit(5)).cast("string"), lit(".com")))
    val email2 = when(pmod(id, lit(3)) === 0,
        concat(lit(" cc admin"), id.cast("string"), lit("@mail.example.org")))
      .otherwise(lit(""))
    val ip = when(pmod(id, lit(4)) === 0, lit(""))
      .otherwise(concat(lit(" from "), pmod(id, lit(256)).cast("string"),
        lit("."), pmod(id * 7, lit(256)).cast("string"), lit(".0."),
        pmod(id, lit(100)).cast("string")))
    val d4 = lpad(pmod(id, lit(10000)).cast("string"), 4, "0")
    val phone = when(pmod(id, lit(6)) === 0,
        concat(lit(" call +1 202-555-"), d4)).otherwise(lit(""))
    val ssn = when(pmod(id, lit(5)) === 2,
        concat(lit(" ssn 123-45-"), d4)).otherwise(lit(""))
    val ccard = when(pmod(id, lit(8)) === 1,
        concat(lit(" card 4111 1111 1111 "), d4)).otherwise(lit(""))
    d.select(id, concat(substring(col("text"), 1, 60), email, email2, ip,
      phone, ssn, ccard, lit(" "), substring(col("text"), 61, 60)).as("text"))
  }

  /** Deterministic paragraph-structured corpus: every doc opens with a
    * global boilerplate paragraph, ~1/3 share a second one, ~1/5 a third;
    * the rest are per-doc unique. Shared by q_paragraph_dedup and
    * SideTables (side_paradocs). */
  private[graft] def paraCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val id = col("doc_id")
    d.select(id, concat_ws("\n\n",
      lit("subscribe to our newsletter"),
      substring(col("text"), 1, 100),
      when(pmod(id, lit(3)) === 0, lit("all rights reserved"))
        .otherwise(concat(lit("para-"), id.cast("string"))),
      when(pmod(id, lit(5)) === 0, lit("cookie policy applies"))
        .otherwise(substring(col("text"), 101, 60))).as("text"))
  }

  /** Deterministic near-dup pair set over the documents table — the input
    * for transitive cluster resolution. Chains (id, id+1) for id%10 in
    * 0..2 give 4-node paths, cross-links (id, id+5) at id%25==0 merge
    * some of them, and the REAL MinHash-LSH candidate pairs (same params
    * as q_minhash_lsh_pairs) ride along so the operator is gated composing
    * with an actual pair family. Shared by q_dedup_components and
    * SideTables (side_dup_pairs); the oracle re-derives the closure with
    * WITH RECURSIVE. */
  private[graft] def dupPairsCorpus(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id").cast("long").as("id"))
    def bounded(p: DataFrame): DataFrame = p
      .join(ids.withColumnRenamed("id", "id_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"))
    val chains = bounded(ids.filter(pmod(col("id"), lit(10)) < 3)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b")))
    val links = bounded(ids.filter(pmod(col("id"), lit(25)) === 0)
      .select(col("id").as("id_a"), (col("id") + 5).as("id_b")))
    val lsh = graft.ops.Dedup.lshCandidatePairs(
        t(s, dir, "documents"), "doc_id", "text", numPerm = 32, bands = 16)
      .select(col("id_a"), col("id_b"))
    chains.union(links).union(lsh)
  }

  /** Deterministic benchmark/eval corpus for decontamination: ~1/17 of
    * documents contribute a 20-word span of their own text (those docs ARE
    * contaminated — 8 shared 13-grams each), another ~1/17 contribute
    * benchmark-only rows disjoint from the corpus. Shared by
    * q_decontaminate and SideTables (side_bench); the oracle re-derives
    * the n-gram overlap relationally at sf0.01. */
  private[graft] def benchCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val id = col("doc_id")
    val fromDocs = d.filter(pmod(id, lit(17)) === 3)
      .select(id.as("bench_id"),
        array_join(slice(split(lower(col("text")), "[^a-z0-9]+"), 3, 20), " ")
          .as("text"))
    val unique = d.filter(pmod(id, lit(17)) === 5)
      .select((id + 100000).as("bench_id"),
        concat(lit("benchmark only question "), id.cast("string"),
          lit(" answer alpha beta gamma delta epsilon zeta eta theta iota"),
          lit(" kappa lambda mu nu")).as("text"))
    fromDocs.union(unique)
  }

  /** Deterministic repetition-structured corpus: every doc gets a 6-line
    * body built from its own text slices; docs with id%3==0 repeat one
    * line twice more (dup-line frac 2/6 per doc), id%5==0 append a spam
    * tail of one word 2-gram repeated 12× (top-2-gram char coverage
    * spike). Shared by q_repetition and SideTables (side_repdocs); the
    * oracle re-derives every signal relationally at sf0.01. */
  private[graft] def repCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val id = col("doc_id")
    val l1 = substring(col("text"), 1, 40)
    val l2 = substring(col("text"), 41, 40)
    val l3 = concat(lit("row "), id.cast("string"))
    val dupTail = when(pmod(id, lit(3)) === 0,
        concat(lit("\n"), l2, lit("\n"), l2))
      .otherwise(concat(lit("\npara-"), id.cast("string")))
    val spam = when(pmod(id, lit(5)) === 0,
        concat(lit("\n"), repeat(lit("click here "), 12)))
      .otherwise(lit(""))
    d.select(id, concat(l1, lit("\n"), l2, lit("\n\n"), l3, dupTail, spam)
      .as("text"))
  }

  /** Deterministic normalization-bearing corpus: ~3/4 of docs get a tail
    * containing decomposed accents, the fi ligature, CRLF/CR line breaks,
    * a BEL control, or the OHM-sign NFC singleton (codepoints constructed
    * programmatically — no raw controls in source). Shared by
    * q_text_normalize and SideTables (side_normdocs). */
  private[graft] def normCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val id = col("doc_id")
    def cp(c: Int) = new String(Character.toChars(c))
    val decomposedE = "e" + cp(0x301) // é decomposed
    val ringA = "A" + cp(0x30A)       // Å decomposed
    val inj = when(pmod(id, lit(4)) === 0,
        lit("caf" + decomposedE + "\r\n" + ringA + "ngstr" + cp(0x7) + "om"))
      .when(pmod(id, lit(4)) === 1, lit(cp(0xFB01) + "le list\r\ntail"))
      .when(pmod(id, lit(4)) === 2, lit("plain ascii tail"))
      .otherwise(lit(cp(0x2126) + " ohm \r mixed" + cp(0x7F)))
    d.select(id, concat(substring(col("text"), 1, 80), lit(" "), inj).as("text"))
  }

  /** Deterministic shared-span corpus: docs with id%4==0 embed a fixed
    * ~300-char license block at an id-VARYING offset inside their own text
    * (the content-defined-anchor alignment property is what the oracle
    * exercises), id%20==0 additionally append a second shared block; the
    * rest keep a unique 170-char slice. Shared by q_dup_spans and
    * SideTables (side_spandocs). */
  private[graft] def spanCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val id = col("doc_id")
    val block = "By accessing this website you agree to be bound by these " +
      "terms and conditions of use all materials are provided as is without " +
      "warranty of any kind either express or implied including but not " +
      "limited to the implied warranties of merchantability and fitness " +
      "for a particular purpose and non-infringement of third party rights"
    val block2 = "All content on this site is provided for informational " +
      "purposes only and does not constitute legal advice no attorney " +
      "client relationship is formed by reading these pages"
    val body = when(pmod(id, lit(4)) === 0,
        concat(col("text").substr(lit(1), lit(20) + pmod(id, lit(3)) * 15),
          lit(" " + block + " "), col("text").substr(lit(90), lit(80))))
      .otherwise(col("text").substr(lit(1), lit(170)))
    val tail2 = when(pmod(id, lit(20)) === 0, lit(" " + block2)).otherwise(lit(""))
    d.select(id, concat(body, tail2).as("text"))
  }

  /** Deterministic "next snapshot" of the documents table for
    * q_corpus_delta: id%13==0 removed, id%7==0 revised, ~1/11 added under
    * shifted ids. Shared with SideTables (side_newdocs). */
  private[graft] def newCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val id = col("doc_id")
    val kept = d.filter(pmod(id, lit(13)) =!= 0)
      .select(id,
        when(pmod(id, lit(7)) === 0, concat(col("text"), lit(" revision 2")))
          .otherwise(col("text")).as("text"))
    val added = d.filter(pmod(id, lit(11)) === 0)
      .select((id + lit(500000)).as("doc_id"),
        concat(lit("brand new document "), id.cast("string")).as("text"))
    kept.unionByName(added)
  }

  /** Deterministic per-source-dup-rate corpus for q_source_stats: source
    * srcN collapses ids with id%20 < N%8 onto one fixed spam page, so dup
    * excess varies 0..7/25 across sources and the blocklist flag is
    * non-degenerate. Shared with SideTables (side_srcdocs). */
  private[graft] def srcDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val id = col("doc_id")
    val n = substring(col("source"), 4, 10).cast("int")
    d.select(id, col("source"),
      when(pmod(id, lit(20)) < pmod(n, lit(8)),
        lit("one weird spam page repeated everywhere"))
        .otherwise(col("text")).as("text"))
  }

  /** Mixture weights for q_mix_corpus — the oracle VALUES derive from the
    * SAME weightParts split, so Spark and DuckDB share thresholds by
    * construction. */
  private val mixWeights = Seq("src0" -> 2.5, "src1" -> 0.25, "src2" -> 3.0)

  private def mixValuesSql: String = mixWeights.map { case (s0, w) =>
    val (f, h) = graft.ops.TrainingData.weightParts(w)
    s"('$s0', $f, '$h')"
  }.mkString(", ")

  /** Snapshot history for q_asof_join: every fetch of every url from the
    * deterministic pages generator as (url, snap_ts, sha, snap_id) —
    * timestamps as integral unix seconds so the inclusive `<=` boundary
    * is exactly representable in both engines; `snap_id` is the
    * deterministic tie-break identity for duplicate (url, ts) fetches.
    * Shared by q_asof_join and SideTables (side_asof_snaps). */
  private[graft] def asofSnaps(s: SparkSession): DataFrame = {
    import s.implicits._
    PagesGen.pages(s, ExtractN)
      .select($"url", unix_timestamp($"warc_ts").as("snap_ts"),
        md5($"html").as("sha"))
      .withColumn("snap_id", md5(concat($"url", lit("@"),
        $"snap_ts".cast("string"), lit(":"), coalesce($"sha", lit("")))))
  }

  /** Probe instants for q_asof_join, four per url straddling its history:
    * strictly before the first snapshot (pins the no-match null row),
    * exactly AT the first (pins `<=` inclusivity), the integral midpoint,
    * and an hour past the last (pins latest-wins). Shared by q_asof_join
    * and SideTables (side_asof_probes). */
  private[graft] def asofProbes(s: SparkSession): DataFrame = {
    import s.implicits._
    asofSnaps(s).groupBy($"url")
      .agg(min($"snap_ts").as("lo"), max($"snap_ts").as("hi"))
      .select($"url", explode(array(
        struct(lit("before").as("k"), ($"lo" - 1).as("probe_ts")),
        struct(lit("first").as("k"), $"lo".as("probe_ts")),
        struct(lit("mid").as("k"),
          (($"lo" + $"hi") / 2).cast("long").as("probe_ts")),
        struct(lit("after").as("k"), ($"hi" + 3600L).as("probe_ts"))
      )).as("p"))
      .select(concat($"url", lit("#"), $"p.k").as("probe_id"),
        $"url", $"p.probe_ts".as("probe_ts"))
  }

  // ---------- oracles ----------

  private[graft] def side(name: String): String =
    s"read_parquet('$sideDir/$name/*.parquet')"

  /** The lexical URL-authority regex the oracles extract hosts with
    * (group 1; ≡ Spark's parse_url HOST, proven by q_url_patterns). */
  private[graft] val HostAuthorityRegex =
    """^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?(\[[^\]/?#]*\]|[^/?#:]*)"""

  /** Whole-corpus HLL sketch SQL — shared by q_hll_distinct AND
    * q_hll_merge: merging the two half-corpus register frames must
    * reproduce this exact table (union-of-sketches ≡ sketch-of-union). */
  private val hllOracleSql: String =
    """WITH h AS (SELECT
      |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS v
      |  FROM documents),
      |b AS (SELECT v >> 52 AS bucket,
      |        v & ((CAST(1 AS BIGINT) << 52) - 1) AS w FROM h),
      |r AS (SELECT bucket,
      |        max(CASE WHEN w = 0 THEN 53
      |                 ELSE 53 - length(bin(w)) END) AS reg
      |      FROM b GROUP BY 1),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS present,
      |        CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT) AS sump
      |      FROM r),
      |t AS (SELECT present,
      |        CAST(sump + (256 - present) * (CAST(1 AS BIGINT) << 53)
      |          AS BIGINT) AS sum_fp
      |      FROM s)
      |SELECT 256 AS m, CAST(256 - present AS INT) AS n_zero_registers,
      |  sum_fp,
      |  ((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
      |      + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
      |    * CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE))
      |    / CAST(sum_fp AS DOUBLE) AS estimate
      |FROM t""".stripMargin

  /** Shared BPE-oracle CTE chain: word counts -> symbol strings ->
    * three (pair-count, argmax, recursive-apply) training rounds.
    * Kept as ONE string so q_bpe_merges and q_bpe_tokenize stay in
    * lockstep. */
  private def bpeRoundSql(k: Int): String = {
    val prev = s"words${k - 1}"
    s"""wl$k AS (SELECT string_split(syms, ' ') AS sl, cnt FROM $prev),
       |p$k AS (SELECT sl[i] AS a, sl[i + 1] AS b, CAST(sum(cnt) AS BIGINT) AS pc
       |        FROM wl$k, UNNEST(generate_series(1, len(sl) - 1)) AS u(i)
       |        GROUP BY 1, 2),
       |b$k AS (SELECT a, b, pc FROM p$k WHERE pc >= 2
       |        ORDER BY pc DESC, a, b LIMIT 1),
       |ap$k AS (SELECT ' ' || syms || ' ' AS s, cnt,
       |               coalesce((SELECT ' ' || a || ' ' || b || ' ' FROM b$k),
       |                        '  ') AS pat,
       |               coalesce((SELECT ' ' || a || b || ' ' FROM b$k), '') AS rep
       |        FROM $prev
       |        UNION ALL
       |        SELECT substr(s, 1, strpos(s, pat) - 1) || rep ||
       |               substr(s, strpos(s, pat) + length(pat)), cnt, pat, rep
       |        FROM ap$k WHERE strpos(s, pat) > 0),
       |words$k AS (SELECT substr(s, 2, length(s) - 2) AS syms, cnt
       |            FROM ap$k WHERE strpos(s, pat) = 0)""".stripMargin
  }

  private def bpeTrainingCtes: String =
    s"""wraw AS (SELECT unnest(string_split_regex(text, '\\s+')) AS word
       |         FROM documents),
       |w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS wc FROM wraw
       |       WHERE length(word) > 0 GROUP BY word),
       |words0 AS (SELECT array_to_string(regexp_extract_all(word, '.'), ' ') ||
       |             ' </w>' AS syms,
       |           CAST(sum(wc) AS BIGINT) AS cnt
       |           FROM w0 GROUP BY 1),
       |${bpeRoundSql(1)},
       |${bpeRoundSql(2)},
       |${bpeRoundSql(3)}""".stripMargin

  /** Apply training round k's winning merge to the distinct-word symbol
    * table (ws{k-1} -> ws{k}) with the same recursive collapse. */
  private def bpeApplyCte(k: Int): String =
    s"""aw$k AS (SELECT word, ' ' || syms || ' ' AS s,
       |               coalesce((SELECT ' ' || a || ' ' || b || ' ' FROM b$k),
       |                        '  ') AS pat,
       |               coalesce((SELECT ' ' || a || b || ' ' FROM b$k), '') AS rep
       |        FROM ws${k - 1}
       |        UNION ALL
       |        SELECT word, substr(s, 1, strpos(s, pat) - 1) || rep ||
       |               substr(s, strpos(s, pat) + length(pat)), pat, rep
       |        FROM aw$k WHERE strpos(s, pat) > 0),
       |ws$k AS (SELECT word, substr(s, 2, length(s) - 2) AS syms
       |         FROM aw$k WHERE strpos(s, pat) = 0)""".stripMargin

  def oracleSql: Map[String, String] = Query.merged(registry, _.oracle)(Map(
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_update_frequency" ->
      """SELECT user_id, cnt, span_days, round(cnt / (span_days + 1), 4) AS rate
        |FROM (SELECT user_id, count(*) AS cnt,
        |        date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS span_days
        |      FROM events GROUP BY user_id)""".stripMargin,
    "q_rollup_integrity" ->
      """SELECT o_orderpriority, count(*) AS total,
        | CAST(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS big_orders,
        | CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS open_orders,
        | count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q_hourly_events" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | count(*) AS cnt, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_sessionize" ->
      // lag over the first row is NULL → CASE falls to 0, so session 0
      // starts every user, matching the Spark otherwise(0) branch;
      // timestamps compare as exact microsecond BIGINTs in both engines
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             epoch_us(ts) AS us FROM events),
        |g AS (SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000
        |                     THEN 1 ELSE 0 END AS newflag
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sq AS (SELECT *, CAST(sum(newflag) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |          AS session_seq FROM g),
        |fl AS (SELECT *,
        |  first_value(event_id) OVER w2 AS first_event_id,
        |  last_value(event_id) OVER
        |    (PARTITION BY user_id, session_seq ORDER BY us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS last_event_id
        |  FROM sq WINDOW w2 AS (PARTITION BY user_id, session_seq
        |                        ORDER BY us, event_id))
        |SELECT user_id, session_seq, min(us) AS start_us, max(us) AS end_us,
        |       count(*) AS n_events,
        |       count(DISTINCT event_type) AS n_types,
        |       min(first_event_id) AS first_event_id,
        |       min(last_event_id) AS last_event_id
        |FROM fl GROUP BY user_id, session_seq""".stripMargin,
    "q_latest_per_key" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        | SELECT *, row_number() OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1""".stripMargin,
    "q_window_rank" ->
      """SELECT user_id, event_id, value, rnk FROM (
        | SELECT user_id, event_id, value, row_number() OVER (
        |   PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
        | FROM events WHERE event_type = 'purchase')
        |WHERE rnk <= 3""".stripMargin,
    "q_changed_rows" ->
      """WITH prev AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS old_qty
        |              FROM lineitem WHERE l_linenumber = 1 GROUP BY l_orderkey),
        |     cur AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS new_qty
        |             FROM lineitem WHERE l_linenumber = 2 GROUP BY l_orderkey)
        |SELECT cur.l_orderkey, new_qty, old_qty
        |FROM cur LEFT JOIN prev ON cur.l_orderkey = prev.l_orderkey
        |WHERE old_qty IS NULL OR old_qty <> new_qty""".stripMargin,
    "q_anti_visited" ->
      """SELECT o_orderkey, o_orderdate FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_linenumber = 3)""".stripMargin,
    "q_headers_changed" ->
      // has_headers_changed re-derived: NULL-safe triple compare via
      // IS DISTINCT FROM (Python None != None is False)
      """WITH cur AS (SELECT 'u' || o_orderkey AS url,
        |    CAST(o_orderdate AS VARCHAR) AS last_modified,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS etag,
        |    CASE WHEN o_orderkey % 5 = 0 THEN CAST(floor(o_totalprice) AS BIGINT) + 1
        |         ELSE CAST(floor(o_totalprice) AS BIGINT) END AS content_length
        |  FROM orders),
        |st AS (SELECT 'u' || o_orderkey AS url,
        |    CAST(o_orderdate AS VARCHAR) AS last_modified,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS etag,
        |    CAST(floor(o_totalprice) AS BIGINT) AS content_length
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT cur.url, cur.last_modified, cur.etag, cur.content_length
        |FROM cur LEFT JOIN st ON cur.url = st.url
        |WHERE st.url IS NULL
        |   OR cur.last_modified IS DISTINCT FROM st.last_modified
        |   OR cur.etag IS DISTINCT FROM st.etag
        |   OR cur.content_length IS DISTINCT FROM st.content_length""".stripMargin,
    "q_semi_live" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')""".stripMargin,
    "q_anchor_exists" ->
      """SELECT c_custkey, n_name, n_nationkey IS NOT NULL AS target_exists
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q_topk_priority" ->
      """SELECT o_orderkey, o_totalprice,
        | round(1.0 + 0.3 * least(o_totalprice / 200000.0, 1.0) +
        |   CASE WHEN o_orderpriority LIKE '1%' THEN 0.2 ELSE 0.0 END, 6) AS priority_score
        |FROM orders ORDER BY priority_score DESC, o_orderkey LIMIT 20""".stripMargin,
    "q_union_distinct" ->
      """SELECT DISTINCT key FROM (
        | SELECT o_custkey AS key FROM orders
        | UNION ALL SELECT c_custkey AS key FROM customer)""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q_bpe_merges" ->
      // three BPE rounds UNROLLED: per round, pair counts over the
      // space-joined symbol strings (lateral unnest of adjacent index
      // pairs), the argmax with the (pc DESC, a, b) tie-break, and the
      // merge applied by a RECURSIVE leftmost-occurrence collapse --
      // equivalent to the single-pass BPE apply because the merged token
      // is a fresh symbol (no occurrence can form left of the scan)
      s"""WITH RECURSIVE
         |$bpeTrainingCtes
         |SELECT CAST(0 AS INT) AS merge_idx, a AS lhs, b AS rhs,
         |       pc AS pair_count FROM b1
         |UNION ALL SELECT CAST(1 AS INT), a, b, pc FROM b2
         |UNION ALL SELECT CAST(2 AS INT), a, b, pc FROM b3""".stripMargin,
    "q_bpe_tokenize" ->
      // training re-derived as in q_bpe_merges, then APPLIED: distinct
      // words tokenized by the same recursive collapse per round, token
      // counts joined back onto the per-doc word instances
      s"""WITH RECURSIVE
         |$bpeTrainingCtes,
         |dw AS (SELECT doc_id, word FROM (
         |         SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
         |         FROM documents)
         |       WHERE length(word) > 0),
         |ws0 AS (SELECT DISTINCT word,
         |          array_to_string(regexp_extract_all(word, '.'), ' ') ||
         |            ' </w>' AS syms
         |        FROM dw),
         |${bpeApplyCte(1)},
         |${bpeApplyCte(2)},
         |${bpeApplyCte(3)},
         |wt AS (SELECT word, CAST(len(string_split(syms, ' ')) AS BIGINT) AS nt
         |       FROM ws3)
         |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(wt.nt) AS BIGINT) AS n_bpe_tokens
         |FROM dw JOIN wt ON dw.word = wt.word
         |GROUP BY dw.doc_id""".stripMargin,
    "q_bpe_encode" ->
      // training (q_bpe_merges CTEs) + application (q_bpe_tokenize CTEs)
      // + the vocab numbering (base symbols by binary varchar order ==
      // Spark's code-point order; merge k at base-count + k; min-id per
      // token) + the full per-position id sequence, fingerprinted with
      // the same md5-of-space-joined-decimals the Spark column carries
      s"""WITH RECURSIVE
         |$bpeTrainingCtes,
         |dw AS (SELECT doc_id, word FROM (
         |         SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
         |         FROM documents)
         |       WHERE length(word) > 0),
         |ws0 AS (SELECT DISTINCT word,
         |          array_to_string(regexp_extract_all(word, '.'), ' ') ||
         |            ' </w>' AS syms
         |        FROM dw),
         |${bpeApplyCte(1)},
         |${bpeApplyCte(2)},
         |${bpeApplyCte(3)},
         |bsy AS (SELECT DISTINCT unnest(string_split(syms, ' ')) AS token
         |        FROM ws0),
         |base AS (SELECT token,
         |           CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS id
         |         FROM bsy),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS bc FROM base),
         |ms AS (SELECT a || b AS token, 0 + (SELECT bc FROM nb) AS id FROM b1
         |       UNION ALL
         |       SELECT a || b, 1 + (SELECT bc FROM nb) FROM b2
         |       UNION ALL
         |       SELECT a || b, 2 + (SELECT bc FROM nb) FROM b3),
         |vocab AS (SELECT token, CAST(min(id) AS BIGINT) AS id
         |          FROM (SELECT * FROM base UNION ALL SELECT * FROM ms)
         |          GROUP BY token),
         |dd AS (SELECT doc_id, string_split_regex(text, '\\s+') AS wl
         |       FROM documents),
         |dwi AS (SELECT doc_id, wl[i] AS word, i AS wi
         |        FROM dd, UNNEST(generate_series(1, len(wl))) AS u(i)
         |        WHERE length(wl[i]) > 0),
         |wtl AS (SELECT word, string_split(syms, ' ') AS tl FROM ws3),
         |dwt AS (SELECT dwi.doc_id, dwi.wi, wtl.tl
         |        FROM dwi JOIN wtl ON dwi.word = wtl.word),
         |tok0 AS (SELECT doc_id, wi, v.j AS tj, tl[v.j] AS token
         |         FROM dwt, UNNEST(generate_series(1, len(tl))) AS v(j)),
         |tok AS (SELECT t.doc_id, t.wi, t.tj, vc.id AS tid
         |        FROM tok0 t JOIN vocab vc ON t.token = vc.token)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bpe_tokens,
         |       md5(string_agg(tid::VARCHAR, ' ' ORDER BY wi, tj)) AS ids_md5
         |FROM tok GROUP BY doc_id""".stripMargin,
    "q_token_counts" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        | length(text) AS n_chars_calc
        |FROM documents""".stripMargin,
    "q_quality_docs" ->
      """SELECT doc_id,
        | round(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio,
        | round(length(replace(text, ' ', '')) * 1.0 /
        |   len(regexp_split_to_array(trim(text), '\s+')), 4) AS mean_token_len
        |FROM documents""".stripMargin,
    "q_lang_stats" ->
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
        | max(n_chars) AS max_chars
        |FROM documents GROUP BY lang""".stripMargin,
    "q_cosine_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(
        |   list_dot_product(CAST(embedding AS DOUBLE[]), q.qv) /
        |   (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
        |    sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // ---- side-table oracles (written by Verify; VERDICT r01 next #1) ----
    "q_extract_docs" ->
      // side_docs flows through the full Extract.run WRITE path; the query
      // is the direct typed-map path — the compare pins their equivalence.
      s"""SELECT url, content_sha256, content_kind, url_bucket, text_len, parse_failed
         |FROM ${side("side_docs")}""".stripMargin,
    "q_failure_classes" ->
      // expected class re-derived from the INPUT structure alone: a row
      // with no payload must classify `decode`, a null-url row with HTML
      // must classify `parse` (the url-join layer), every healthy row
      // must classify NULL — the Spark side runs the real extractor, so
      // any misfire (a healthy page failing, a class mislabeled) breaks
      // the count compare
      s"""SELECT CASE WHEN NOT has_payload THEN 'decode'
         |            WHEN url IS NULL THEN 'parse' END AS failure_class,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM ${side("side_poison")}
         |GROUP BY 1""".stripMargin,
    "q_extract_links" ->
      s"""SELECT src_url, dst_url, kind, src_tag, anchor, is_internal
         |FROM ${side("side_links")}""".stripMargin,
    "q_host_demote" ->
      // failures re-derived from input structure (no-payload rows are the
      // only failures in this corpus — q_failure_classes pins that);
      // hosts via the lexical authority regex; exact cross-multiply fence
      s"""WITH p AS (SELECT url,
         |    CASE WHEN has_payload THEN 0 ELSE 1 END AS f
         |  FROM ${side("side_poison")} WHERE url IS NOT NULL),
         |h AS (SELECT lower(NULLIF(regexp_extract(url,
         |    '$HostAuthorityRegex',
         |    1), '')) AS host, f
         |  FROM p)
         |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(f) AS BIGINT) AS n_failed,
         |  sum(f) * 5 > count(*) * 1 AS demoted
         |FROM h WHERE host IS NOT NULL GROUP BY 1""".stripMargin,
    "q_mirror_paths" ->
      // DuckDB re-derives the reference's save path (core/scraper.py:
      // 484-497) from (url, content_kind) with string functions only:
      // urlparse path (scheme strip, authority strip, fragment/query
      // cuts, ;params off the last segment), lstrip('/'),
      // dirname/basename with posix slash-run semantics, the index.html
      // default, and the endswith-gated extension fix-up ('.html' only
      // for text/html ⇔ kind='html'; xml payloads get '.txt').
      s"""WITH d AS (SELECT url, content_kind FROM ${side("side_docs")}),
         |p0 AS (SELECT url, content_kind,
         |  regexp_replace(
         |    split_part(split_part(
         |      regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.\\-]*:', ''),
         |      '#', 1), '?', 1),
         |    '^//[^/]*', '') AS path0
         |  FROM d),
         |p1 AS (SELECT url, content_kind,
         |  CASE WHEN contains(path0, '/')
         |       THEN regexp_replace(path0, '^(.*/[^/;]*);[^/]*$$', '\\1')
         |       ELSE split_part(path0, ';', 1) END AS path1
         |  FROM p0),
         |lp AS (SELECT url, content_kind,
         |  regexp_replace(path1, '^/+', '') AS lp FROM p1),
         |db AS (SELECT url, content_kind, lp,
         |  CASE WHEN contains(lp, '/')
         |       THEN rtrim(regexp_replace(lp, '/[^/]*$$', ''), '/')
         |       ELSE '' END AS dir,
         |  regexp_extract(lp, '[^/]*$$') AS base
         |  FROM lp),
         |fn AS (SELECT url, content_kind, lp, dir,
         |  CASE WHEN base = '' THEN 'index.html' ELSE base END AS fn0
         |  FROM db),
         |fx AS (SELECT url, content_kind, lp, dir,
         |  CASE WHEN fn0 LIKE '%.html' OR fn0 LIKE '%.xml' OR fn0 LIKE '%.txt'
         |       THEN fn0
         |       ELSE fn0 || (CASE WHEN content_kind = 'html'
         |                         THEN '.html' ELSE '.txt' END) END AS fn
         |  FROM fn)
         |SELECT url, content_kind,
         |  CASE WHEN dir = '' THEN fn ELSE dir || '/' || fn END AS mirror_path,
         |  'docs/site/v1/' || lp AS raw_read_path
         |FROM fx""".stripMargin,
    "q_extract_meta" ->
      // side_meta_full flows through the doc_meta sidecar WRITE path;
      // n_structured counts json-ld + microdata + rdfa entries
      s"""SELECT url, title, description, keywords, last_modified_iso,
         |  canonical, lang, n_structured
         |FROM ${side("side_meta_full")}""".stripMargin,
    "q_frontier_schedule" ->
      // worker = md5-mod of host, fetch_seq = per-host priority window,
      // est_start = exact integer wave arithmetic — the whole schedule
      // re-derived from raw side_links rows (host via the lexical
      // HostAuthorityRegex)
      s"""WITH f AS (SELECT DISTINCT dst_url AS url FROM ${side("side_links")}),
         |p AS (SELECT url,
         |    CAST(CAST('0x' || substr(md5(url), 1, 8) AS BIGINT) % 1000 AS INT)
         |      AS pr,
         |    NULLIF(regexp_extract(url, '$HostAuthorityRegex', 1), '') AS host
         |  FROM f),
         |w AS (SELECT url, host, pr,
         |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY pr DESC, url)
         |      AS fetch_seq
         |  FROM p)
         |SELECT url, host,
         |  CAST(CAST('0x' || substr(md5('host:' || host), 1, 8) AS BIGINT) % 5
         |    AS INT) AS worker,
         |  fetch_seq, (fetch_seq - 1) * 3000 AS est_start_ms
         |FROM w""".stripMargin,
    "q_robots_filter" ->
      // the parse layer (side_rb_* tables + match_path) is the
      // CPython-fuzz-pinned input; DuckDB independently re-derives entry
      // selection (substring agent match, min file-order, default
      // fallback), the first-match prefix scan, the read()-status flags,
      // the decision taxonomy, and the crawl-delay projection
      s"""WITH f AS (SELECT url, match_path, host FROM ${side("side_rb_frontier")}),
         |h AS (SELECT host, status, parse_failed FROM ${side("side_rb_hosts")}),
         |e AS (SELECT host, entry_seq, delay_s, rate_req, rate_secs
         |      FROM ${side("side_rb_entries")}),
         |a AS (SELECT host, entry_seq, agent_lower FROM ${side("side_rb_agents")}),
         |r AS (SELECT host, entry_seq, rule_seq, prefix, is_allow FROM ${side("side_rb_rules")}),
         |spec AS (SELECT host, min(entry_seq) AS es FROM a
         |         WHERE entry_seq >= 0
         |           AND (agent_lower = '*' OR contains('graftbot', agent_lower))
         |         GROUP BY host),
         |dflt AS (SELECT DISTINCT host, -1 AS es FROM e WHERE entry_seq = -1),
         |sel AS (SELECT h.host, coalesce(s.es, d.es) AS es
         |        FROM h LEFT JOIN spec s ON h.host = s.host
         |               LEFT JOIN dflt d ON h.host = d.host),
         |fm AS (SELECT f.url, min(r.rule_seq) AS rs
         |       FROM f JOIN sel ON f.host = sel.host
         |            JOIN r ON r.host = f.host AND r.entry_seq = sel.es
         |       WHERE r.prefix = '*' OR starts_with(f.match_path, r.prefix)
         |       GROUP BY f.url)
         |SELECT f.url, f.host, f.match_path,
         |  CASE WHEN h.host IS NULL THEN TRUE
         |       WHEN h.parse_failed THEN FALSE
         |       WHEN h.status IN (401, 403) THEN FALSE
         |       WHEN h.status >= 400 AND h.status < 500 THEN TRUE
         |       WHEN h.status >= 500 THEN FALSE
         |       WHEN sel.es IS NULL THEN TRUE
         |       WHEN fm.rs IS NOT NULL THEN mr.is_allow
         |       ELSE TRUE END AS allowed,
         |  CASE WHEN h.host IS NULL THEN 'no_robots'
         |       WHEN h.parse_failed THEN 'parse_failed'
         |       WHEN h.status IN (401, 403) THEN 'disallow_all'
         |       WHEN h.status >= 400 AND h.status < 500 THEN 'allow_all'
         |       WHEN h.status >= 500 THEN 'unread'
         |       WHEN sel.es IS NULL THEN 'no_entry'
         |       WHEN fm.rs IS NOT NULL THEN 'rule'
         |       ELSE 'entry_default' END AS decision,
         |  CASE WHEN h.host IS NOT NULL AND NOT h.parse_failed
         |        AND h.status < 400 AND sel.es IS NOT NULL
         |       THEN ed.delay_s END AS crawl_delay_s,
         |  CASE WHEN h.host IS NOT NULL AND NOT h.parse_failed
         |        AND h.status < 400 AND sel.es IS NOT NULL
         |       THEN ed.rate_req END AS rate_req,
         |  CASE WHEN h.host IS NOT NULL AND NOT h.parse_failed
         |        AND h.status < 400 AND sel.es IS NOT NULL
         |       THEN ed.rate_secs END AS rate_secs
         |FROM f
         |LEFT JOIN h ON f.host = h.host
         |LEFT JOIN sel ON f.host = sel.host
         |LEFT JOIN fm ON f.url = fm.url
         |LEFT JOIN r mr ON mr.host = f.host AND mr.entry_seq = sel.es
         |                AND mr.rule_seq = fm.rs
         |LEFT JOIN e ed ON ed.host = f.host AND ed.entry_seq = sel.es""".stripMargin,
    "q_crawl_plan" ->
      // q_robots_filter's allowed/delay derivation composed with
      // q_frontier_schedule's worker/wave arithmetic, end to end in one
      // DuckDB statement over the same side tables
      s"""WITH f AS (SELECT url, match_path, host FROM ${side("side_rb_frontier")}),
         |h AS (SELECT host, status, parse_failed FROM ${side("side_rb_hosts")}),
         |e AS (SELECT host, entry_seq, delay_s, rate_req, rate_secs
         |      FROM ${side("side_rb_entries")}),
         |a AS (SELECT host, entry_seq, agent_lower FROM ${side("side_rb_agents")}),
         |r AS (SELECT host, entry_seq, rule_seq, prefix, is_allow FROM ${side("side_rb_rules")}),
         |spec AS (SELECT host, min(entry_seq) AS es FROM a
         |         WHERE entry_seq >= 0
         |           AND (agent_lower = '*' OR contains('graftbot', agent_lower))
         |         GROUP BY host),
         |dflt AS (SELECT DISTINCT host, -1 AS es FROM e WHERE entry_seq = -1),
         |sel AS (SELECT h.host, coalesce(s.es, d.es) AS es
         |        FROM h LEFT JOIN spec s ON h.host = s.host
         |               LEFT JOIN dflt d ON h.host = d.host),
         |fm AS (SELECT f.url, min(r.rule_seq) AS rs
         |       FROM f JOIN sel ON f.host = sel.host
         |            JOIN r ON r.host = f.host AND r.entry_seq = sel.es
         |       WHERE r.prefix = '*' OR starts_with(f.match_path, r.prefix)
         |       GROUP BY f.url),
         |dec AS (SELECT f.url, f.host,
         |    CASE WHEN h.host IS NULL THEN TRUE
         |         WHEN h.parse_failed THEN FALSE
         |         WHEN h.status IN (401, 403) THEN FALSE
         |         WHEN h.status >= 400 AND h.status < 500 THEN TRUE
         |         WHEN h.status >= 500 THEN FALSE
         |         WHEN sel.es IS NULL THEN TRUE
         |         WHEN fm.rs IS NOT NULL THEN mr.is_allow
         |         ELSE TRUE END AS allowed,
         |    CASE WHEN h.host IS NOT NULL AND NOT h.parse_failed
         |          AND h.status < 400 AND sel.es IS NOT NULL
         |         THEN ed.delay_s END AS delay_s,
         |    CASE WHEN h.host IS NOT NULL AND NOT h.parse_failed
         |          AND h.status < 400 AND sel.es IS NOT NULL
         |          AND ed.rate_req > 0
         |         THEN CASE
         |           WHEN ed.rate_secs // ed.rate_req >= 5 THEN 5000
         |           WHEN ed.rate_req > 1000000000000000
         |             THEN ed.rate_secs // (ed.rate_req // 1000)
         |           ELSE (ed.rate_secs * 1000 + ed.rate_req - 1) // ed.rate_req
         |         END
         |    END AS rate_ms
         |  FROM f
         |  LEFT JOIN h ON f.host = h.host
         |  LEFT JOIN sel ON f.host = sel.host
         |  LEFT JOIN fm ON f.url = fm.url
         |  LEFT JOIN r mr ON mr.host = f.host AND mr.entry_seq = sel.es
         |                  AND mr.rule_seq = fm.rs
         |  LEFT JOIN e ed ON ed.host = f.host AND ed.entry_seq = sel.es),
         |al AS (SELECT url, host,
         |    CASE WHEN delay_s IS NULL AND rate_ms IS NULL THEN 3000
         |         ELSE least(greatest(greatest(
         |                CASE WHEN delay_s IS NULL THEN NULL
         |                     ELSE least(delay_s, 5) * 1000 END, rate_ms), 500),
         |                    5000) END AS delay_ms,
         |    CAST(CAST('0x' || substr(md5(url), 1, 8) AS BIGINT) % 1000 AS INT)
         |      AS pr
         |  FROM dec WHERE allowed),
         |w AS (SELECT url, host, delay_ms,
         |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY pr DESC, url)
         |      AS fetch_seq
         |  FROM al)
         |SELECT url, host,
         |  CAST(CAST('0x' || substr(md5('host:' || host), 1, 8) AS BIGINT) % 5
         |    AS INT) AS worker,
         |  fetch_seq, delay_ms, (fetch_seq - 1) * delay_ms AS est_start_ms
         |FROM w""".stripMargin,
    "q_warc_records" ->
      // DuckDB re-parses the WARC stream from the raw file hex: header
      // block found via the even-aligned-hex regex trick ((?:..)*? keeps
      // byte alignment), fields regexp'd out of the decoded header text,
      // payload sliced by the re-derived Content-Length, the HTTP
      // envelope parsed the same way, and the body digest recomputed as
      // sha256-of-lowercase-hex. Only the boundary triples are taken as
      // input, and those are pinned by the exp_off tiling condition —
      // non-tiling offsets NULL the fields and fail the hash compare.
      // (Corpus guarantee: every response payload contains a full HTTP
      // header block, so the '' no-match sentinel never reaches body
      // arithmetic on non-error rows.)
      s"""WITH fl AS (SELECT file_hex FROM ${side("side_warc_file")}),
         |rec AS (SELECT rec_idx, rec_offset, total_len, parse_error,
         |    substr((SELECT file_hex FROM fl),
         |           CAST(rec_offset*2 + 1 AS BIGINT),
         |           CAST(total_len*2 AS BIGINT)) AS rh,
         |    coalesce(sum(total_len) OVER (ORDER BY rec_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS exp_off
         |  FROM ${side("side_warc_recs")}),
         |hdr AS (SELECT *,
         |    CASE WHEN parse_error IS NULL AND rec_offset = exp_off
         |      THEN decode(unhex(regexp_extract(rh, '^((?:..)*?)0d0a0d0a', 1)))
         |    END AS hs,
         |    length(regexp_extract(rh, '^((?:..)*?)0d0a0d0a', 1)) AS hl
         |  FROM rec),
         |fld AS (SELECT *,
         |    nullif(regexp_extract(hs, '(?mi)^WARC-Type:[ \\t]*([^\\r\\n]*)', 1), '') AS wt,
         |    nullif(regexp_extract(hs, '(?mi)^WARC-Target-URI:[ \\t]*([^\\r\\n]*)', 1), '') AS uri,
         |    nullif(regexp_extract(hs, '(?mi)^WARC-Date:[ \\t]*([^\\r\\n]*)', 1), '') AS dt,
         |    nullif(regexp_extract(hs, '(?mi)^WARC-Record-ID:[ \\t]*([^\\r\\n]*)', 1), '') AS rid,
         |    try_cast(regexp_extract(hs, '(?mi)^Content-Length:[ \\t]*([0-9]+)', 1) AS BIGINT) AS cl
         |  FROM hdr),
         |pay AS (SELECT *,
         |    CASE WHEN hs IS NOT NULL AND wt = 'response'
         |      THEN substr(rh, hl + 9, CAST(cl*2 AS BIGINT)) END AS ph
         |  FROM fld),
         |hh AS (SELECT *,
         |    CASE WHEN ph IS NOT NULL
         |      THEN regexp_extract(ph, '^((?:..)*?)0d0a0d0a', 1) END AS hph
         |  FROM pay),
         |httpp AS (SELECT *,
         |    CASE WHEN hph IS NOT NULL THEN decode(unhex(hph)) END AS hps
         |  FROM hh)
         |SELECT rec_idx, rec_offset, total_len, parse_error,
         |  wt AS warc_type, uri AS target_uri, dt AS warc_date,
         |  rid AS record_id, cl AS content_length,
         |  try_cast(regexp_extract(hps, '^HTTP/[0-9]\\.[0-9] ([0-9]{3})', 1) AS INT)
         |    AS http_status,
         |  nullif(regexp_extract(hps, '(?mi)^Content-Type:[ \\t]*([^\\r\\n]*)', 1), '')
         |    AS mime,
         |  CASE WHEN hph IS NOT NULL
         |       THEN CAST((length(ph) - length(hph) - 8) / 2 AS BIGINT) END AS body_len,
         |  CASE WHEN hph IS NOT NULL
         |       THEN sha256(substr(ph, length(hph) + 9)) END AS body_sha256
         |FROM httpp""".stripMargin,
    "q_snapshot_diff_ops" ->
      // md5s recomputed INDEPENDENTLY by DuckDB over the raw pair contents
      s"""WITH m AS (SELECT * FROM ${side("side_diff_meta")}),
         |pr AS (SELECT * FROM ${side("side_diff_pairs")}),
         |o AS (SELECT url, count(*) AS n_ops,
         |        CAST(sum(CASE WHEN operation = 'replace' THEN 1 ELSE 0 END) AS BIGINT) AS n_replace
         |      FROM ${side("side_diff_ops")} GROUP BY url)
         |SELECT m.url,
         |  CASE WHEN m.diff_failed THEN -1 ELSE coalesce(o.n_ops, 0) END AS n_ops,
         |  CASE WHEN m.diff_failed THEN -1 ELSE coalesce(o.n_replace, 0) END AS n_replace,
         |  m.n_changed_chunks, m.diff_failed,
         |  CASE WHEN m.diff_failed THEN NULL ELSE md5(pr.old_c) END AS old_md5,
         |  CASE WHEN m.diff_failed THEN NULL ELSE md5(pr.new_c) END AS new_md5
         |FROM m LEFT JOIN o ON m.url = o.url JOIN pr ON m.url = pr.url""".stripMargin,
    "q_boilerplate_main" ->
      s"""SELECT url, blocks, stripped_elements, main_chars
         |FROM ${side("side_boiler")}""".stripMargin,
    "q_media_features" ->
      // kind + dims + WAV format re-derived INDEPENDENTLY from the raw
      // payload hex: PNG/GIF at fixed offsets, JPEG via a recursive
      // marker-chain walk, WAV via a recursive chunk walk. Only f0 (the
      // documented stub feature) passes through side_media.
      s"""WITH RECURSIVE raw AS (
         |  SELECT media_id, ph, length(ph)/2 AS nb FROM ${side("side_media_raw")}),
         |k AS (SELECT media_id, ph, nb,
         |    CASE WHEN substr(ph,1,8)='89504E47' THEN 'image/png'
         |         WHEN substr(ph,1,6)='FFD8FF' THEN 'image/jpeg'
         |         WHEN substr(ph,1,8)='47494638' THEN 'image/gif'
         |         WHEN substr(ph,1,8)='52494646' AND substr(ph,17,8)='57415645' THEN 'audio/wav'
         |         WHEN substr(ph,1,8)='52494646' AND substr(ph,17,8)='41564920' THEN 'video/avi'
         |         ELSE 'unknown' END AS kind
         |  FROM raw),
         |png AS (SELECT media_id,
         |    ('0x'||substr(ph,33,8))::INT AS width,
         |    ('0x'||substr(ph,41,8))::INT AS height
         |  FROM k WHERE kind='image/png' AND nb>=24),
         |gif AS (SELECT media_id,
         |    ('0x'||substr(ph,15,2)||substr(ph,13,2))::INT AS width,
         |    ('0x'||substr(ph,19,2)||substr(ph,17,2))::INT AS height
         |  FROM k WHERE kind='image/gif' AND nb>=10),
         |jrec(media_id, ph, nb, p) AS (
         |  SELECT media_id, ph, nb, 2 FROM k WHERE kind='image/jpeg'
         |  UNION ALL
         |  SELECT media_id, ph, nb, p + 2 + ('0x'||substr(ph,2*p+5,4))::BIGINT
         |  FROM jrec
         |  WHERE p+4 <= nb
         |    AND NOT (substr(ph,2*p+3,2) BETWEEN 'C0' AND 'CF'
         |             AND substr(ph,2*p+3,2) NOT IN ('C4','C8','CC'))
         |    AND substr(ph,2*p+3,2) NOT IN ('DA','D9')),
         |jpg AS (SELECT media_id,
         |    ('0x'||substr(ph,2*p+15,4))::INT AS width,
         |    ('0x'||substr(ph,2*p+11,4))::INT AS height
         |  FROM jrec
         |  WHERE p+9 <= nb AND substr(ph,2*p+3,2) BETWEEN 'C0' AND 'CF'
         |    AND substr(ph,2*p+3,2) NOT IN ('C4','C8','CC')),
         |wrec(media_id, ph, nb, p) AS (
         |  SELECT media_id, ph, nb, 12 FROM k WHERE kind='audio/wav' AND nb >= 36
         |  UNION ALL
         |  SELECT media_id, ph, nb,
         |    p + 8 + ('0x'||substr(ph,2*p+15,2)||substr(ph,2*p+13,2)||substr(ph,2*p+11,2)||substr(ph,2*p+9,2))::BIGINT
         |      + ('0x'||substr(ph,2*p+9,2))::BIGINT % 2
         |  FROM wrec WHERE p+8 <= nb),
         |wfmt AS (SELECT media_id,
         |    ('0x'||substr(ph,2*p+23,2)||substr(ph,2*p+21,2))::INT AS channels,
         |    ('0x'||substr(ph,2*p+31,2)||substr(ph,2*p+29,2)||substr(ph,2*p+27,2)||substr(ph,2*p+25,2))::INT AS sample_rate,
         |    ('0x'||substr(ph,2*p+39,2)||substr(ph,2*p+37,2)||substr(ph,2*p+35,2)||substr(ph,2*p+33,2))::BIGINT AS byte_rate
         |  FROM wrec WHERE p+24 <= nb AND substr(ph,2*p+1,8)='666D7420'),
         |wdata AS (SELECT media_id,
         |    ('0x'||substr(ph,2*p+15,2)||substr(ph,2*p+13,2)||substr(ph,2*p+11,2)||substr(ph,2*p+9,2))::BIGINT AS data_len
         |  FROM wrec WHERE p+8 <= nb AND substr(ph,2*p+1,8)='64617461')
         |SELECT k.media_id, k.kind,
         |  COALESCE(png.width, jpg.width, gif.width) AS width,
         |  COALESCE(png.height, jpg.height, gif.height) AS height,
         |  wfmt.sample_rate, wfmt.channels,
         |  CASE WHEN wdata.data_len IS NOT NULL AND wfmt.byte_rate > 0
         |       THEN (wdata.data_len * 1000) // wfmt.byte_rate END AS duration_ms,
         |  m.f0
         |FROM k
         |LEFT JOIN png USING (media_id) LEFT JOIN jpg USING (media_id)
         |LEFT JOIN gif USING (media_id) LEFT JOIN wfmt USING (media_id)
         |LEFT JOIN wdata USING (media_id)
         |JOIN ${side("side_media")} m USING (media_id)""".stripMargin,
    "q_media_resize" ->
      // n_bytes + digest recomputed INDEPENDENTLY by DuckDB from the raw
      // resized payload (md5 over the uppercase hex — both engines'
      // hex() agree, and DuckDB's md5 only takes VARCHAR)
      s"""SELECT media_id, width, height,
         |  octet_length(resized) AS n_bytes,
         |  md5(hex(resized)) AS payload_md5h
         |FROM ${side("side_resized")}""".stripMargin,
    "q_media_frames" ->
      s"""SELECT media_id, frame_idx, ts_ms,
         |  CAST(octet_length(frame) AS BIGINT) AS n_bytes,
         |  md5(hex(frame)) AS frame_md5h
         |FROM ${side("side_frames")}""".stripMargin,
    "q_minhash_lsh_pairs" ->
      // candidate pair generation + ranking re-derived relationally in
      // DuckDB from the per-doc band keys / signatures / shingle sets
      s"""WITH b AS (SELECT * FROM ${side("side_bands")}),
         |fp AS (SELECT * FROM ${side("side_fp")}),
         |shg AS (SELECT * FROM ${side("side_shingles")}),
         |cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b
         |         FROM b a JOIN b b2 ON a.band_key = b2.band_key AND a.id < b2.id),
         |scored AS (SELECT c.id_a, c.id_b,
         |    round(CAST(len(list_filter(range(1, 33), i -> fa.minhash[i] = fb.minhash[i])) AS DOUBLE) / 32, 6) AS est_jaccard,
         |    len(list_intersect(sa.sh, sb.sh)) AS inter,
         |    len(sa.sh) AS na, len(sb.sh) AS nb
         |  FROM cand c
         |  JOIN fp fa ON c.id_a = fa.id JOIN fp fb ON c.id_b = fb.id
         |  JOIN shg sa ON c.id_a = sa.id JOIN shg sb ON c.id_b = sb.id)
         |SELECT id_a, id_b, est_jaccard,
         |  round(CASE WHEN na = 0 AND nb = 0 THEN 1.0
         |        ELSE CAST(inter AS DOUBLE) / (na + nb - inter) END, 6) AS jaccard
         |FROM scored
         |ORDER BY jaccard DESC, id_a, id_b LIMIT 50""".stripMargin,
    "q_lsh_incremental" ->
      // side_bands/side_fp cover the FULL corpus with the same params, so
      // the old/new split re-derives by id arithmetic; the incremental
      // contract (>=1 new id per pair) is the WHERE clause
      s"""WITH b AS (SELECT * FROM ${side("side_bands")}),
         |fp AS (SELECT * FROM ${side("side_fp")}),
         |cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b
         |         FROM b a JOIN b b2 ON a.band_key = b2.band_key AND a.id < b2.id
         |         WHERE a.id % 3 = 0 OR b2.id % 3 = 0)
         |SELECT c.id_a, c.id_b,
         |  round(CAST(len(list_filter(range(1, 33), i -> fa.minhash[i] = fb.minhash[i])) AS DOUBLE) / 32, 6) AS est_jaccard
         |FROM cand c JOIN fp fa ON c.id_a = fa.id JOIN fp fb ON c.id_b = fb.id
         |ORDER BY est_jaccard DESC, id_a, id_b LIMIT 100""".stripMargin,
    "q_simhash_pairs" ->
      s"""WITH blk AS (SELECT * FROM ${side("side_simblocks")}),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |                a.simhash AS sh_a, b.simhash AS sh_b
         |         FROM blk a JOIN blk b ON a.block_key = b.block_key AND a.id < b.id)
         |SELECT id_a, id_b, bit_count(xor(sh_a, sh_b)) AS hamming
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
         |ORDER BY hamming, id_a, id_b LIMIT 50""".stripMargin,
    "q_doc_fingerprints" ->
      s"""SELECT id, simhash, n_shingles FROM ${side("side_fp")}""".stripMargin,
    "q_training_prep" ->
      // fully relational oracle — the whole composite filter re-derived
      """WITH base AS (SELECT doc_id, lang,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    round(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) * 1.0 /
        |          length(text), 4) AS alpha_ratio,
        |    min(doc_id) OVER (PARTITION BY md5(text)) AS keeper,
        |    text IS NULL AS text_is_null
        |  FROM documents),
        |reasons AS (SELECT doc_id, lang, n_tokens, alpha_ratio,
        |    CASE WHEN text_is_null THEN 'null_text'
        |         WHEN doc_id <> keeper THEN 'duplicate'
        |         WHEN lang NOT IN ('en','de','fr','es','pt') THEN 'lang'
        |         WHEN n_tokens < 10 THEN 'too_short'
        |         WHEN n_tokens > 100000 THEN 'too_long'
        |         WHEN alpha_ratio < 0.5 THEN 'low_alpha'
        |         ELSE NULL END AS drop_reason
        |  FROM base)
        |SELECT doc_id, lang, n_tokens, alpha_ratio,
        |  drop_reason IS NULL AS kept, drop_reason
        |FROM reasons""".stripMargin,
    "q_pii_mask" ->
      // mask + counts fully re-derived by DuckDB's RE2 engine over the
      // side-table input rows (patterns restricted to RE2∩java.util.regex
      // syntax; DuckDB standard strings pass backslashes through)
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    regexp_replace(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
         |    '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),
         |    '\\b\\d{4}[ -]\\d{4}[ -]\\d{4}[ -]\\d{4}\\b', '<CARD>', 'g'),
         |    '\\+\\d{1,3}[ -]?\\d{2,4}[ -]?\\d{3,4}[ -]?\\d{3,4}\\b',
         |    '<PHONE>', 'g') AS text_masked,
         |  len(regexp_extract_all(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
         |  len(regexp_extract_all(text,
         |    '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS n_ips,
         |  len(regexp_extract_all(text,
         |    '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS n_ssns,
         |  len(regexp_extract_all(text,
         |    '\\b\\d{4}[ -]\\d{4}[ -]\\d{4}[ -]\\d{4}\\b')) AS n_ccards,
         |  len(regexp_extract_all(text,
         |    '\\+\\d{1,3}[ -]?\\d{2,4}[ -]?\\d{3,4}[ -]?\\d{3,4}\\b'))
         |    AS n_phones
         |FROM ${side("side_pii_docs")}""".stripMargin,
    "q_paragraph_dedup" ->
      // whole operator re-derived relationally: split → global distinct-doc
      // counts → over-threshold hashes → ordered reassembly
      s"""WITH d AS (SELECT * FROM ${side("side_paradocs")}),
         |p AS (SELECT doc_id,
         |        unnest(string_split(text, chr(10)||chr(10))) AS para,
         |        unnest(range(len(string_split(text, chr(10)||chr(10))))) AS pos
         |      FROM d),
         |dup AS (SELECT md5(para) AS h FROM p
         |        GROUP BY md5(para) HAVING count(DISTINCT doc_id) > 2),
         |kept AS (SELECT doc_id, pos, para FROM p
         |         WHERE md5(para) NOT IN (SELECT h FROM dup)),
         |agg AS (SELECT doc_id,
         |          string_agg(para, chr(10)||chr(10) ORDER BY pos) AS text_clean,
         |          count(*) AS n_kept
         |        FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(a.text_clean, '') AS text_clean,
         |  len(string_split(d.text, chr(10)||chr(10))) - coalesce(a.n_kept, 0)
         |    AS n_removed
         |FROM d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "q_dedup_components" ->
      // transitive closure re-derived independently: the oracle walks the
      // raw pair rows with WITH RECURSIVE (UNION dedup terminates it) and
      // takes min reachable id per node — the large/small-star rounds the
      // Spark side runs never appear here
      s"""WITH RECURSIVE
         |e AS (SELECT id_a, id_b FROM ${side("side_dup_pairs")}
         |      WHERE id_a <> id_b),
         |und AS (SELECT id_a AS u, id_b AS v FROM e
         |        UNION SELECT id_b, id_a FROM e),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
         |  UNION
         |  SELECT r.u, w.v FROM reach r JOIN und w ON r.v = w.u)
         |SELECT u AS id, min(v) AS component FROM reach GROUP BY u""".stripMargin,
    "q_decontaminate" ->
      // the WHOLE 13-gram decontamination re-derived relationally: DuckDB
      // tokenizes both sides with its own regex engine, expands every
      // n-gram, and recomputes the distinct-gram overlap — the Spark
      // side's bloom prefilter must be invisible in the result
      s"""WITH d AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                x -> x <> '') AS toks
         |  FROM documents),
         |dg AS (SELECT DISTINCT doc_id, array_to_string(toks[i+1:i+13], ' ') AS gram
         |       FROM (SELECT doc_id, toks, unnest(range(len(toks) - 12)) AS i
         |             FROM d WHERE len(toks) >= 13)),
         |b AS (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |             x -> x <> '') AS toks
         |      FROM ${side("side_bench")}),
         |bg AS (SELECT DISTINCT array_to_string(toks[i+1:i+13], ' ') AS gram
         |       FROM (SELECT toks, unnest(range(len(toks) - 12)) AS i
         |             FROM b WHERE len(toks) >= 13)),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1),
         |hits AS (SELECT dg.doc_id, count(*) AS n_contaminated
         |         FROM dg JOIN bg USING (gram) GROUP BY 1)
         |SELECT d0.doc_id,
         |  coalesce(t.n_grams, 0) AS n_grams,
         |  coalesce(h.n_contaminated, 0) AS n_contaminated,
         |  coalesce(h.n_contaminated, 0) > 0 AS contaminated
         |FROM documents d0
         |LEFT JOIN tot t USING (doc_id)
         |LEFT JOIN hits h USING (doc_id)""".stripMargin,
    "q_repetition" ->
      // every Gopher repetition signal re-derived relationally: DuckDB
      // splits lines/paragraphs, tokenizes, expands 2/3/4-grams, and
      // recomputes the exact-integer numerators/denominators + the
      // cross-multiplied threshold flag over the side-table input rows
      s"""WITH d AS (SELECT doc_id, text FROM ${side("side_repdocs")}),
         |lp AS (SELECT doc_id, part, len(part) AS L, count(*) AS c
         |       FROM (SELECT doc_id, unnest(list_filter(
         |               string_split(text, chr(10)), x -> x <> '')) AS part
         |             FROM d)
         |       GROUP BY doc_id, part),
         |la AS (SELECT doc_id,
         |         CAST(sum(c) AS BIGINT) AS n_lines,
         |         CAST(sum(c - 1) AS BIGINT) AS dup_lines,
         |         CAST(sum(c * L) AS BIGINT) AS line_chars,
         |         CAST(sum((c - 1) * L) AS BIGINT) AS dup_line_chars
         |       FROM lp GROUP BY doc_id),
         |pp AS (SELECT doc_id, part, len(part) AS L, count(*) AS c
         |       FROM (SELECT doc_id, unnest(list_filter(
         |               string_split(text, chr(10)||chr(10)), x -> x <> '')) AS part
         |             FROM d)
         |       GROUP BY doc_id, part),
         |pa AS (SELECT doc_id,
         |         CAST(sum(c) AS BIGINT) AS n_paras,
         |         CAST(sum(c - 1) AS BIGINT) AS dup_paras,
         |         CAST(sum(c * L) AS BIGINT) AS para_chars,
         |         CAST(sum((c - 1) * L) AS BIGINT) AS dup_para_chars
         |       FROM pp GROUP BY doc_id),
         |tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
         |         '[^a-z0-9]+'), x -> x <> '') AS toks FROM d),
         |tc AS (SELECT doc_id, len(array_to_string(toks, '')) AS tok_chars FROM tk),
         |g2 AS (SELECT doc_id, c * (len(gram) - 1) AS top2_chars FROM (
         |        SELECT doc_id, gram, count(*) AS c, row_number() OVER (
         |          PARTITION BY doc_id ORDER BY count(*) DESC, gram) AS rn
         |        FROM (SELECT doc_id, array_to_string(toks[i+1:i+2], ' ') AS gram
         |              FROM (SELECT doc_id, toks, unnest(range(len(toks) - 1)) AS i
         |                    FROM tk WHERE len(toks) >= 2))
         |        GROUP BY doc_id, gram HAVING count(*) >= 2) WHERE rn = 1),
         |g3 AS (SELECT doc_id, c * (len(gram) - 2) AS top3_chars FROM (
         |        SELECT doc_id, gram, count(*) AS c, row_number() OVER (
         |          PARTITION BY doc_id ORDER BY count(*) DESC, gram) AS rn
         |        FROM (SELECT doc_id, array_to_string(toks[i+1:i+3], ' ') AS gram
         |              FROM (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS i
         |                    FROM tk WHERE len(toks) >= 3))
         |        GROUP BY doc_id, gram HAVING count(*) >= 2) WHERE rn = 1),
         |g4 AS (SELECT doc_id, c * (len(gram) - 3) AS top4_chars FROM (
         |        SELECT doc_id, gram, count(*) AS c, row_number() OVER (
         |          PARTITION BY doc_id ORDER BY count(*) DESC, gram) AS rn
         |        FROM (SELECT doc_id, array_to_string(toks[i+1:i+4], ' ') AS gram
         |              FROM (SELECT doc_id, toks, unnest(range(len(toks) - 3)) AS i
         |                    FROM tk WHERE len(toks) >= 4))
         |        GROUP BY doc_id, gram HAVING count(*) >= 2) WHERE rn = 1)
         |SELECT d.doc_id,
         |  coalesce(la.n_lines, 0) AS n_lines,
         |  coalesce(la.dup_lines, 0) AS dup_lines,
         |  coalesce(la.line_chars, 0) AS line_chars,
         |  coalesce(la.dup_line_chars, 0) AS dup_line_chars,
         |  coalesce(pa.n_paras, 0) AS n_paras,
         |  coalesce(pa.dup_paras, 0) AS dup_paras,
         |  coalesce(pa.para_chars, 0) AS para_chars,
         |  coalesce(pa.dup_para_chars, 0) AS dup_para_chars,
         |  coalesce(tc.tok_chars, 0) AS tok_chars,
         |  coalesce(g2.top2_chars, 0) AS top2_chars,
         |  coalesce(g3.top3_chars, 0) AS top3_chars,
         |  coalesce(g4.top4_chars, 0) AS top4_chars,
         |  (coalesce(la.dup_lines, 0) * 10 > coalesce(la.n_lines, 0) * 3 OR
         |   coalesce(la.dup_line_chars, 0) * 5 > coalesce(la.line_chars, 0) OR
         |   coalesce(pa.dup_paras, 0) * 10 > coalesce(pa.n_paras, 0) * 3 OR
         |   coalesce(pa.dup_para_chars, 0) * 5 > coalesce(pa.para_chars, 0) OR
         |   coalesce(g2.top2_chars, 0) * 5 > coalesce(tc.tok_chars, 0) OR
         |   coalesce(g3.top3_chars, 0) * 50 > coalesce(tc.tok_chars, 0) * 9 OR
         |   coalesce(g4.top4_chars, 0) * 25 > coalesce(tc.tok_chars, 0) * 4)
         |    AS repetitious
         |FROM d
         |LEFT JOIN la USING (doc_id) LEFT JOIN pa USING (doc_id)
         |LEFT JOIN tc USING (doc_id) LEFT JOIN g2 USING (doc_id)
         |LEFT JOIN g3 USING (doc_id) LEFT JOIN g4 USING (doc_id)""".stripMargin,
    "q_seq_pack" ->
      // the concatenated-stream layout re-derived as a plain exclusive
      // cumulative window per (source, stream) in deterministic doc_id
      // order; the md5-prefix sub-stream assignment (engine-portable 60-bit
      // hex parse) is recomputed independently so the skew decomposition
      // itself is under oracle
      """SELECT doc_id, source, stream, n_tokens, start_tok,
        |  CAST(floor(start_tok / 256) AS BIGINT) AS seq_id
        |FROM (
        |  SELECT doc_id, source, stream, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (
        |      PARTITION BY source, stream ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM (
        |    SELECT doc_id, source,
        |      CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |        AS BIGINT) % 4 AS INTEGER) AS stream,
        |      len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |    FROM documents))""".stripMargin,
    "q_text_normalize" ->
      // NFC + newline canonicalization + control strip re-derived with
      // DuckDB's own utf8proc nfc_normalize and RE2 — cross-engine NFC
      // parity (incl. OHM singleton + mark reordering) IS the property
      // under test; len() counts codepoints on both sides
      s"""WITH n AS (SELECT doc_id, text,
         |    regexp_replace(
         |      replace(replace(nfc_normalize(text), chr(13)||chr(10), chr(10)),
         |              chr(13), chr(10)),
         |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g') AS text_norm
         |  FROM ${side("side_normdocs")})
         |SELECT doc_id, text_norm, text_norm <> text AS changed,
         |  len(text) AS n_cp_before, len(text_norm) AS n_cp_after
         |FROM n""".stripMargin,
    "q_dup_spans" ->
      // the whole substring-duplication pass re-derived relationally:
      // every position, the content-defined anchor predicate, the k-char
      // window digests, cross-doc duplicated digests, per-doc counts
      s"""WITH d AS (SELECT doc_id, text FROM ${side("side_spandocs")}),
         |w AS (SELECT doc_id, substr(md5(substr(text, p + 1, 40)), 1, 16) AS dg
         |      FROM (SELECT doc_id, text,
         |              unnest(generate_series(0, len(text) - 40)) AS p FROM d)
         |      WHERE substr(md5(substr(text, p + 1, 8)), 1, 1) = '0'),
         |dup AS (SELECT dg FROM w GROUP BY dg HAVING count(DISTINCT doc_id) >= 2),
         |pd AS (SELECT w.doc_id, count(*) AS n_windows,
         |         CAST(sum(CASE WHEN dup.dg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_dup_windows
         |       FROM w LEFT JOIN dup ON w.dg = dup.dg GROUP BY w.doc_id)
         |SELECT d.doc_id, coalesce(pd.n_windows, 0) AS n_windows,
         |  coalesce(pd.n_dup_windows, 0) AS n_dup_windows,
         |  coalesce(pd.n_dup_windows, 0) * 5 > coalesce(pd.n_windows, 0) * 1
         |    AS span_flagged
         |FROM d LEFT JOIN pd USING (doc_id)""".stripMargin,
    "q_compression_ratio" ->
      // n_compressed is the pinned scalar (golden-gated vs CPython zlib —
      // DuckDB cannot deflate); n_bytes, ratio, and both flags are
      // INDEPENDENTLY re-derived (the q_lang_detect discipline)
      s"""SELECT d.doc_id,
         |  CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
         |  z.n_compressed,
         |  CAST(z.n_compressed AS DOUBLE) /
         |    nullif(CAST(octet_length(encode(d.text)) AS BIGINT), 0) AS ratio,
         |  z.n_compressed * 100 < CAST(octet_length(encode(d.text)) AS BIGINT) * 30
         |    AS repetitive,
         |  z.n_compressed * 100 > CAST(octet_length(encode(d.text)) AS BIGINT) * 80
         |    AS noise_like
         |FROM documents d JOIN ${side("side_zlib")} z
         |  ON d.doc_id = z.doc_id""".stripMargin,
    "q_nb_quality" ->
      // train AND score re-derived: per-doc distinct tokens, per-token
      // doc counts by class (NULL labels train neither side), integer
      // log-odds via the exact bin()-length floor-log2, left-join scoring
      """WITH toks AS (SELECT DISTINCT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                       x -> x <> '')) AS token
        |  FROM documents),
        |lab AS (SELECT doc_id, lang = 'en' AS pos FROM documents),
        |m AS (SELECT token,
        |        CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |        CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        |      FROM toks JOIN lab USING (doc_id) GROUP BY 1),
        |w AS (SELECT token,
        |        CAST(length(bin(n_pos + 1)) - length(bin(n_neg + 1)) AS INT) AS w
        |      FROM m),
        |sc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_scored,
        |         CAST(sum(w.w) AS BIGINT) AS score
        |       FROM toks t JOIN w ON t.token = w.token GROUP BY 1)
        |SELECT d.doc_id, coalesce(sc.n_scored, 0) AS n_scored,
        |       coalesce(sc.score, 0) AS score,
        |       coalesce(sc.score, 0) > 0 AS predicted
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,
    "q_lm_quality" ->
      // the whole fit+score pass re-derived: tokenizer, count ranking with
      // the same tie-break, OOV = V+1, integer rank sums, bucket cuts
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                       x -> x <> '')) AS token
        |  FROM documents),
        |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |vocab AS (SELECT token, rank FROM (
        |    SELECT token, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rank
        |    FROM cnt) WHERE rank <= 1000),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |sc AS (SELECT tf.doc_id,
        |    CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN v.rank IS NULL THEN tf ELSE 0 END) AS BIGINT) AS n_oov,
        |    CAST(sum(tf * coalesce(v.rank, 1001)) AS BIGINT) AS rank_sum
        |  FROM tf LEFT JOIN vocab v USING (token) GROUP BY tf.doc_id)
        |SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
        |  coalesce(sc.n_oov, 0) AS n_oov, coalesce(sc.rank_sum, 0) AS rank_sum,
        |  CASE WHEN coalesce(sc.n_tokens, 0) = 0 THEN 'tail'
        |       WHEN sc.rank_sum * 8 < sc.n_tokens * 1000 THEN 'head'
        |       WHEN sc.rank_sum * 2 < sc.n_tokens * 1000 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,
    "q_mix_corpus" ->
      // epoch fan-out re-derived: VALUES carry the same (full, frac_hex)
      // split weightParts produced for the Spark side
      s"""WITH w(source, full_epochs, frac_hex) AS (VALUES $mixValuesSql),
         |d AS (SELECT doc_id, source FROM documents),
         |j AS (SELECT d.doc_id, d.source,
         |    coalesce(w.full_epochs, 1)
         |      + CASE WHEN substr(md5('mix:' || d.doc_id), 1, 8)
         |              < coalesce(w.frac_hex, '00000000') THEN 1 ELSE 0 END AS n
         |  FROM d LEFT JOIN w USING (source))
         |SELECT doc_id, source, unnest(generate_series(0, n - 1)) AS epoch
         |FROM j WHERE n > 0""".stripMargin,
    "q_shard_assign" ->
      // the skew-safe two-stage (sub-stream rank + broadcast offsets)
      // re-derived as ONE plain per-shard window — exactness of the
      // decomposition is the property under test
      """WITH h AS (SELECT doc_id, md5('shard:' || doc_id) AS hh FROM documents),
        |s AS (SELECT doc_id, hh,
        |    CAST(CAST('0x' || substr(hh, 1, 8) AS BIGINT) % 8 AS INT) AS shard,
        |    CAST('0x' || substr(hh, 9, 8) AS BIGINT) % 4 AS sub
        |  FROM h)
        |SELECT doc_id, shard,
        |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY sub, hh, doc_id) - 1
        |    AS pos
        |FROM s""".stripMargin,
    "q_corpus_delta" ->
      // membership-flag + null-safe-hash classification re-derived over
      // the same two snapshots
      s"""WITH o AS (SELECT doc_id, md5(text) AS old_hash, TRUE AS in_old
         |           FROM documents),
         |n AS (SELECT doc_id, md5(text) AS new_hash, TRUE AS in_new
         |      FROM ${side("side_newdocs")}),
         |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |        old_hash, new_hash, in_old, in_new
         |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT doc_id, old_hash, new_hash,
         |  CASE WHEN in_old IS NULL THEN 'added'
         |       WHEN in_new IS NULL THEN 'removed'
         |       WHEN old_hash IS DISTINCT FROM new_hash THEN 'changed'
         |       ELSE 'unchanged' END AS status
         |FROM j""".stripMargin,
    "q_source_stats" ->
      s"""SELECT source, count(*) AS n_docs, count(text) AS n_text_docs,
         |  count(DISTINCT md5(text)) AS n_distinct,
         |  CAST(coalesce(sum(len(text)), 0) AS BIGINT) AS total_chars,
         |  count(text) - count(DISTINCT md5(text)) AS n_dup_docs,
         |  (count(text) - count(DISTINCT md5(text))) * 5 > count(*) * 1
         |    AS blocklisted
         |FROM ${side("side_srcdocs")} GROUP BY source""".stripMargin,
    "q_neardup_drops" ->
      // the WHOLE near-dup pipeline re-derived: candidate pairs from the
      // band keys, exact jaccard from the shingle sets, transitive
      // closure with WITH RECURSIVE, keeper = component min
      s"""WITH RECURSIVE
         |b AS (SELECT * FROM ${side("side_bands")}),
         |shg AS (SELECT * FROM ${side("side_shingles")}),
         |cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b
         |         FROM b a JOIN b b2 ON a.band_key = b2.band_key AND a.id < b2.id),
         |jac AS (SELECT c.id_a, c.id_b,
         |    round(CASE WHEN len(sa.sh) = 0 AND len(sb.sh) = 0 THEN 1.0
         |      ELSE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) END, 6) AS j
         |  FROM cand c
         |  JOIN shg sa ON c.id_a = sa.id JOIN shg sb ON c.id_b = sb.id),
         |e AS (SELECT id_a, id_b FROM jac WHERE j >= 0.7 AND id_a <> id_b),
         |und AS (SELECT id_a AS u, id_b AS v FROM e
         |        UNION SELECT id_b, id_a FROM e),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
         |  UNION
         |  SELECT r.u, w.v FROM reach r JOIN und w ON r.v = w.u)
         |SELECT u AS drop_id, min(v) AS keeper FROM reach
         |GROUP BY u HAVING u <> min(v)""".stripMargin,
    "q_winnow_overlap" ->
      // stop-fingerprint filter + pairwise self-join + counts re-derived
      // over the pinned (id, fp) frame
      s"""WITH df AS (SELECT fp, count(*) AS d FROM ${side("side_winnow")}
         |            GROUP BY 1),
         |keep AS (SELECT w.id, w.fp FROM ${side("side_winnow")} w
         |         JOIN df USING (fp) WHERE df.d <= 200),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         |      FROM keep a JOIN keep b
         |        ON a.fp = b.fp AND a.id < b.id)
         |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM p GROUP BY 1, 2 HAVING count(*) >= 4""".stripMargin,
    "q_sample_hash" ->
      // md5-hex lexicographic threshold: identical digests + identical
      // binary string collation in both engines
      """SELECT doc_id, source FROM documents
        |WHERE md5('s1:' || doc_id) < '4'""".stripMargin,
    "q_jsonl_roundtrip" ->
      // the oracle is the SOURCE table: whatever the JSONL files did to
      // the data must be the identity
      """SELECT doc_id, text, lang, source, n_chars FROM documents""",
    "q_cdx_parse" ->
      // EXPECTED parse output computed directly from doc_id arithmetic —
      // garbage rows (id ≡ 0 mod 13) must parse to 'garbage' + NULLs;
      // epoch integers avoid timezone-rendering comparisons
      """SELECT
        |  CASE WHEN doc_id % 13 = 0 THEN 'garbage'
        |       ELSE 'com,h' || (doc_id % 40) || ')/p' || doc_id END AS urlkey,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(epoch(strptime(
        |         '20240315' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
        |           || '0000', '%Y%m%d%H%M%S')) AS BIGINT) END AS ts_unix,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE 'https://h' || (doc_id % 40) || '.test/p' || doc_id
        |       END AS url,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE 'text/html' END AS mime,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE 200 END AS status,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE 'D' || doc_id
        |       END AS digest,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(doc_id % 1000 + 100 AS BIGINT) END AS "length",
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(doc_id * 17 AS BIGINT) END AS "offset",
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE 'crawl-' || (doc_id % 5) || '.warc.gz' END AS filename
        |FROM documents""".stripMargin,
    "q_hll_distinct" ->
      // the whole sketch re-derived: same 60-bit md5 hash ('0x' cast ≡
      // conv(hex)), same bin()-length rho (the degree-histogram trick),
      // registers as max per bucket, indicator sum in FIXED POINT (BIGINT,
      // order-independent), and the estimate with the identical
      // left-associative IEEE op order — doubles match bitwise
      hllOracleSql,
    "q_datasheet" ->
      // every datasheet scalar re-derived: integer totals over documents
      // + the full HLL chain as a derived table
      s"""WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |    CAST(sum(len(regexp_split_to_array(trim(text), '\\s+')))
         |      AS BIGINT) AS total_tokens,
         |    CAST(sum(length(text)) AS BIGINT) AS total_chars,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_english
         |  FROM documents),
         |est AS (SELECT estimate FROM (
         |$hllOracleSql
         |))
         |SELECT base.n_docs, base.n_sources, base.total_tokens,
         |  base.total_chars, base.n_english,
         |  est.estimate AS distinct_text_estimate
         |FROM base, est""".stripMargin,
    "q_hll_merge" ->
      // union-of-sketches ≡ sketch-of-union: merging the two half-corpus
      // register frames MUST reproduce the whole-corpus sketch exactly,
      // so the oracle is the very same whole-corpus SQL
      hllOracleSql,
    "q_top_ngrams" ->
      // same normalized 3-grams via zipped unnest + positional self-joins;
      // deterministic cutoff: count DESC then gram ASC
      """WITH tk AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
        |    unnest(range(1,
        |      len(regexp_extract_all(lower(text), '[a-z0-9]+')) + 1)) AS i
        |  FROM documents),
        |g AS (SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS gram
        |      FROM tk a
        |      JOIN tk b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |      JOIN tk c ON c.doc_id = a.doc_id AND c.i = a.i + 2)
        |SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM g GROUP BY 1
        |ORDER BY n_occurrences DESC, gram LIMIT 20""".stripMargin,
    "q_split_assign" ->
      // the whole leak-free split fence re-derived: same md5-permille
      // bucket ('0x' cast ≡ Spark's conv(hex)), same threshold CASE
      """WITH b AS (SELECT doc_id, source,
        |  CAST(CAST('0x' || substr(md5('split:' || source), 1, 8) AS BIGINT)
        |       % 1000 AS INT) AS split_bucket
        |  FROM documents)
        |SELECT doc_id, source, split_bucket,
        |  CASE WHEN split_bucket < 100 THEN 'test'
        |       WHEN split_bucket < 200 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM b""".stripMargin,
    "q_split_leakage" ->
      // fence re-derived from documents, applied to both pair ends,
      // canonical least/greatest pair, exact counts
      s"""WITH a AS (SELECT doc_id,
         |    CASE WHEN b < 100 THEN 'test'
         |         WHEN b < 200 THEN 'val'
         |         ELSE 'train' END AS split
         |  FROM (SELECT doc_id,
         |    CAST(CAST('0x' || substr(md5('split:' || source), 1, 8) AS BIGINT)
         |         % 1000 AS INT) AS b
         |    FROM documents)),
         |p AS (SELECT least(x.split, y.split) AS split_a,
         |        greatest(x.split, y.split) AS split_b
         |      FROM ${side("side_dup_pairs")} d
         |      JOIN a x ON d.id_a = x.doc_id
         |      JOIN a y ON d.id_b = y.doc_id)
         |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |       split_a <> split_b AS leaked
         |FROM p GROUP BY 1, 2""".stripMargin,
    "q_source_quota" ->
      // the bounded top-k aggregate re-derived as a plain window: its
      // exactness (md5 DESC, null md5 last, doc_id) IS the property under test
      """SELECT source, doc_id, rnk FROM (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(source || ':' || doc_id) DESC, doc_id) AS rnk
        |  FROM documents) WHERE rnk <= 3""".stripMargin,
    "q_lang_detect" ->
      // lang_detected is the precomputed scalar; bpeish_tokens is
      // INDEPENDENTLY recomputed by DuckDB's regex engine
      s"""SELECT d.doc_id, d.lang, s.lang_detected,
         |  len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpeish_tokens
         |FROM documents d JOIN ${side("side_textstats")} s ON d.doc_id = s.doc_id""".stripMargin,
    "q_ann_lsh_topk" ->
      s"""SELECT vec_id, cos FROM ${side("side_ann")}
         |WHERE in_probe ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "q_ann_ivf_topk" ->
      s"""SELECT vec_id, cos FROM ${side("side_ivf")}
         |WHERE in_probe ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "q_embedding_neardup" ->
      // candidate pair generation re-derived relationally in DuckDB from
      // the per-table bucket keys; exact cosine recomputed independently
      // by DuckDB's list engine over the raw embeddings table
      s"""WITH bk AS (SELECT * FROM ${side("side_embbuckets")}),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |         FROM bk a JOIN bk b ON a.table_key = b.table_key AND a.id < b.id),
         |e AS (SELECT CAST(vec_id AS BIGINT) AS id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings WHERE vec_id <> 0),
         |scored AS (SELECT c.id_a, c.id_b,
         |    round(list_dot_product(ea.v, eb.v) /
         |      (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos
         |  FROM cand c JOIN e ea ON c.id_a = ea.id JOIN e eb ON c.id_b = eb.id)
         |SELECT id_a, id_b, cos, cos >= 0.45 AS near_dup
         |FROM scored ORDER BY cos DESC, id_a, id_b LIMIT 50""".stripMargin,
    "q_semantic_dedup" ->
      // the FULL SemDeDup decision re-derived in DuckDB: squared-L2
      // argmin assignment (ties to the lowest cell), centroid-affinity
      // ranking, within-cluster pairwise cosine, the upper-triangular
      // drop rule, and the trigger pick — from the exported centroid
      // table + the raw embeddings only
      s"""WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id,
         |            CAST(embedding AS DOUBLE[]) AS v
         |          FROM embeddings WHERE vec_id <> 0),
         |c AS (SELECT cell, c FROM ${side("side_semcents")}),
         |d AS (SELECT e.id, c.cell, e.v, row_number() OVER (
         |        PARTITION BY e.id ORDER BY list_distance(e.v, c.c), c.cell) AS rn
         |      FROM e CROSS JOIN c),
         |aff AS (SELECT d.id, d.cell, d.v,
         |          round(list_dot_product(d.v, c.c) /
         |            (sqrt(list_dot_product(d.v, d.v)) *
         |             sqrt(list_dot_product(c.c, c.c))), 6) AS cent_cos
         |        FROM d JOIN c ON d.cell = c.cell WHERE d.rn = 1),
         |rk AS (SELECT id, cell, v, row_number() OVER (
         |         PARTITION BY cell ORDER BY cent_cos DESC, id) AS rnk
         |       FROM aff),
         |pr AS (SELECT a.id AS id_a, a.rnk AS rnk_a, b.id AS id_b,
         |         round(list_dot_product(a.v, b.v) /
         |           (sqrt(list_dot_product(a.v, a.v)) *
         |            sqrt(list_dot_product(b.v, b.v))), 6) AS cos
         |       FROM rk a JOIN rk b ON a.cell = b.cell AND a.rnk < b.rnk),
         |hit AS (SELECT id_a, id_b, cos, row_number() OVER (
         |          PARTITION BY id_b ORDER BY cos DESC, rnk_a, id_a) AS pick
         |        FROM pr WHERE cos >= 0.30)
         |SELECT id_b AS drop_id, id_a AS trigger_id, cos
         |FROM hit WHERE pick = 1 ORDER BY drop_id""".stripMargin,
    "q_priority_scores" ->
      // the ENTIRE calculate_priority formula re-derived in SQL over the
      // raw (url, last_updated) history side table
      s"""WITH h AS (SELECT url, CAST(epoch(last_updated) AS DOUBLE) AS e
         |           FROM ${side("side_pages")}),
         |params AS (SELECT max(e) + 3600 AS as_of FROM h),
         |agg AS (SELECT url, count(*) AS n, max(e) AS maxe FROM h GROUP BY url),
         |freq AS (SELECT url, CAST(count(*) AS DOUBLE) /
         |           (((SELECT as_of FROM params) - max(e)) / 86400.0 + 1.0) AS uf
         |         FROM h WHERE e > (SELECT as_of FROM params) - 2592000 GROUP BY url),
         |cand AS (SELECT a.url,
         |           regexp_matches(a.url, 'page[0-9]*0\\.html$$') AS is_pagination,
         |           CASE WHEN a.n >= 2 THEN a.maxe ELSE NULL END AS lm,
         |           coalesce(f.uf, CAST(0 AS DOUBLE)) AS uf
         |         FROM agg a LEFT JOIN freq f ON a.url = f.url),
         |scored AS (SELECT url, is_pagination, uf,
         |    CASE WHEN lm IS NULL THEN CAST(1 AS DOUBLE)
         |         ELSE CAST(1 AS DOUBLE) /
         |              (1.0 + ((SELECT as_of FROM params) - lm) / 86400.0) END AS fresh,
         |    CAST(1 AS DOUBLE) / (1.0 + CAST(len(string_split(
         |      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
         |      '/')) - 1 AS DOUBLE)) AS ds,
         |    least(CAST(
         |        (CASE WHEN contains(lower(url), 'important') THEN 1 ELSE 0 END +
         |         CASE WHEN contains(lower(url), 'critical') THEN 1 ELSE 0 END +
         |         CASE WHEN contains(lower(url), 'update') THEN 1 ELSE 0 END +
         |         CASE WHEN contains(lower(url), 'new') THEN 1 ELSE 0 END) AS DOUBLE) / 4.0,
         |      CAST(1 AS DOUBLE)) AS rs
         |  FROM cand)
         |SELECT url, is_pagination,
         |  round(uf, 6) AS update_frequency,
         |  round(fresh, 6) AS freshness_score,
         |  round(ds, 6) AS depth_score,
         |  round(rs, 6) AS relevance_score,
         |  round(CASE WHEN is_pagination
         |    THEN (1.0 + least(uf / 10.0, CAST(1 AS DOUBLE)) * 0.3 + fresh * 0.3 +
         |          ds * 0.2 + rs * 0.2) * 1.5
         |    ELSE 1.0 + least(uf / 10.0, CAST(1 AS DOUBLE)) * 0.3 + fresh * 0.3 +
         |         ds * 0.2 + rs * 0.2 END, 6) AS priority
         |FROM scored""".stripMargin,
    "q_sitemap_seeds" ->
      // closed-world sitemapindex recursion re-derived via WITH RECURSIVE
      s"""WITH RECURSIVE reach(u) AS (
         |  SELECT 'https://site.example.com/sitemap.xml'
         |  UNION
         |  SELECT sm.loc FROM ${side("side_sitemap")} sm, reach
         |  WHERE sm.url = reach.u AND sm.kind = 'sitemapindex')
         |SELECT DISTINCT sm.loc AS seed_url
         |FROM ${side("side_sitemap")} sm JOIN reach ON sm.url = reach.u
         |WHERE sm.kind = 'urlset'""".stripMargin,
    "q_asof_join" ->
      // INDEPENDENT derivation: inequality join + per-probe argmax (the
      // textbook as-of formulation, quadratic per key — fine at oracle
      // scale) vs Spark's union + running-window form; LEFT JOIN keeps
      // the no-snapshot probes as null rows, argmax tie-break mirrors
      // the operator's (snap_ts, snap_id) latest-wins rule
      s"""SELECT probe_id, url, probe_ts, snap_ts, sha FROM (
         |  SELECT p.probe_id, p.url, p.probe_ts, s.snap_ts, s.sha,
         |    row_number() OVER (PARTITION BY p.probe_id
         |      ORDER BY s.snap_ts DESC, s.snap_id DESC) AS rn
         |  FROM ${side("side_asof_probes")} p
         |  LEFT JOIN ${side("side_asof_snaps")} s
         |    ON p.url = s.url AND s.snap_ts <= p.probe_ts)
         |WHERE rn = 1""".stripMargin,
    "q_temperature_sample" ->
      // the whole rate pipeline re-derived: integer-quantized sqrt
      // weights (BIGINT sums are order-independent, so Σw is exact in
      // any engine), the pinned left-associative double expression, the
      // 48-bit hex threshold, and the md5-prefix keep rule
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |w AS (SELECT source, n,
        |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * CAST(1000000 AS DOUBLE))
        |          AS BIGINT) AS w
        |      FROM c),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |         CAST(sum(w) AS BIGINT) AS sw FROM w),
        |r AS (SELECT source,
        |        least(CAST(1 AS DOUBLE),
        |          CAST(0.5 AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(w AS DOUBLE)
        |            / (CAST(n AS DOUBLE) * CAST(sw AS DOUBLE))) AS rate
        |      FROM w, tt),
        |h AS (SELECT source, rate,
        |        lpad(lower(hex(CAST(floor(rate * CAST(281474976710656 AS DOUBLE))
        |          AS BIGINT))), 12, '0') AS thr
        |      FROM r)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN h ON d.source = h.source
        |WHERE h.rate >= CAST(1 AS DOUBLE)
        |   OR substr(md5('temp:' || d.doc_id), 1, 12) < h.thr""".stripMargin,
    "q_token_quantiles" ->
      // the type-1 discrete quantile re-derived from the same histogram
      // definition: value-ordered running count, ceil(q·N) target rank,
      // smallest value reaching it
      """WITH h AS (SELECT len(regexp_split_to_array(trim(text), '\s+')) AS v,
        |             count(*) AS c
        |           FROM documents WHERE text IS NOT NULL GROUP BY 1),
        |cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum,
        |               CAST(sum(c) OVER () AS BIGINT) AS total FROM h),
        |qs AS (SELECT unnest([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
        |         CAST(0.75 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |         CAST(0.99 AS DOUBLE)]) AS q),
        |pick AS (SELECT q, v, cum,
        |           row_number() OVER (PARTITION BY q ORDER BY v) AS rn
        |         FROM qs JOIN cum
        |           ON cum >= greatest(CAST(1 AS BIGINT),
        |                CAST(ceil(q * CAST(total AS DOUBLE)) AS BIGINT)))
        |SELECT q, CAST(v AS BIGINT) AS value, cum AS n_le
        |FROM pick WHERE rn = 1""".stripMargin,
    "q_encoding_quality" ->
      // the identical pattern strings (RE2∩Java subset; disjoint-lead
      // alternation, so leftmost-first vs leftmost-longest cannot
      // diverge); flag is the exact damage*200 > len cross-multiply
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '\\x{FFFD}')) AS BIGINT)
         |    AS n_replacement,
         |  CAST(len(regexp_extract_all(text, '[\\x{0080}-\\x{009F}]'))
         |    AS BIGINT) AS n_c1,
         |  CAST(len(regexp_extract_all(text,
         |    '[\\x{00C2}\\x{00C3}][\\x{0080}-\\x{00BF}]|\\x{00E2}[\\x{0080}-\\x{00BF}]{2}'))
         |    AS BIGINT) AS n_moji,
         |  (CAST(len(regexp_extract_all(text, '\\x{FFFD}')) AS BIGINT)
         |   + CAST(len(regexp_extract_all(text, '[\\x{0080}-\\x{009F}]')) AS BIGINT)
         |   + CAST(len(regexp_extract_all(text,
         |       '[\\x{00C2}\\x{00C3}][\\x{0080}-\\x{00BF}]|\\x{00E2}[\\x{0080}-\\x{00BF}]{2}'))
         |       AS BIGINT)) * 200 > CAST(len(text) AS BIGINT) AS enc_suspect
         |FROM ${side("side_mojidocs")}""".stripMargin,
    "q_bm25_topk" ->
      // the whole retrieval pipeline re-derived: tokenization, tf/df/dl,
      // the global (N, total-tokens) scalar, the rational-IDF BM25 tree
      // with every float literal CAST to DOUBLE and the EXACT same
      // parenthesization as the Spark expressions (all nodes are
      // correctly-rounded IEEE +,-,*,/ so the doubles are bit-identical),
      // per-term quantization, integer score sums, and the
      // (score DESC, doc_id ASC) top-10
      s"""WITH tok0 AS (SELECT doc_id,
         |    unnest(string_split_regex(lower(text), '\\s+')) AS term
         |  FROM documents),
         |tok AS (SELECT doc_id, term FROM tok0 WHERE length(term) > 0),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok GROUP BY 1, 2),
         |tfdl AS (SELECT doc_id, term, tf,
         |           CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
         |         FROM tf),
         |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |        FROM tf GROUP BY 1),
         |g AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n,
         |             CAST(count(*) AS BIGINT) AS tt FROM tok),
         |qt AS (SELECT * FROM (VALUES ${retrievalQueries.flatMap {
            case (q, ts) => ts.map(tm => s"('$q','$tm')")
          }.mkString(", ")}) AS v(query_id, term)),
         |sc AS (SELECT qt.query_id, d.doc_id, CAST(floor(
         |    ((((CAST(g.n AS DOUBLE) - CAST(f.df AS DOUBLE))
         |        + CAST(0.5 AS DOUBLE))
         |      / (CAST(f.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         |     * ((CAST(d.tf AS DOUBLE)
         |         * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         |        / (CAST(d.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
         |           * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
         |              + (CAST(0.75 AS DOUBLE) * CAST(d.dl AS DOUBLE))
         |                / (CAST(g.tt AS DOUBLE) / CAST(g.n AS DOUBLE))))))
         |    * CAST(1048576.0 AS DOUBLE)) AS BIGINT) AS contrib
         |  FROM qt JOIN dfq f ON qt.term = f.term
         |       JOIN tfdl d ON qt.term = d.term
         |       CROSS JOIN g),
         |s2 AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT)
         |         AS score
         |       FROM sc GROUP BY 1, 2)
         |SELECT query_id, doc_id, score, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, doc_id ASC) AS rnk FROM s2)
         |WHERE rnk <= 10""".stripMargin,
    "q_embedding_drift" ->
      // quantized-integer centroid means (order-independent BIGINT sums;
      // the two divisions back to double are correctly-rounded IEEE ops),
      // cosine via DuckDB's list engine rounded to 6 (the repo's
      // cross-engine float convention), ascending-affinity rank
      """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, label,
        |            CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |comp AS (SELECT label, u.i AS pos,
        |           CAST(floor(v[u.i] * CAST(1048576.0 AS DOUBLE)) AS BIGINT)
        |             AS q
        |         FROM e, UNNEST(generate_series(1, len(v))) AS u(i)),
        |sums AS (SELECT label, pos, CAST(sum(q) AS BIGINT) AS sq,
        |                count(*) AS cnt
        |         FROM comp GROUP BY 1, 2),
        |cents AS (SELECT label, list(c ORDER BY pos) AS cv FROM (
        |            SELECT label, pos,
        |              (CAST(sq AS DOUBLE) / CAST(1048576.0 AS DOUBLE))
        |                / CAST(cnt AS DOUBLE) AS c
        |            FROM sums) GROUP BY label),
        |cs AS (SELECT e.vec_id, e.label,
        |         round(list_dot_product(e.v, c.cv) /
        |           (sqrt(list_dot_product(e.v, e.v)) *
        |            sqrt(list_dot_product(c.cv, c.cv))), 6) AS cent_cos
        |       FROM e JOIN cents c ON e.label = c.label),
        |r AS (SELECT *, row_number() OVER (PARTITION BY label
        |        ORDER BY cent_cos ASC, vec_id) AS rnk FROM cs)
        |SELECT label, vec_id, cent_cos, rnk FROM r WHERE rnk <= 10""".stripMargin,
    "q_split_context" ->
      // maxTokens=16, overlap=4, step=12; last start = the largest
      // k·step with k·step + overlap < n (negatives clamp to 0, so the
      // // floor-vs-truncate difference is immaterial); 1-based inclusive
      // list slice == Spark's slice(toks, start+1, maxTokens)
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'),
        |                t -> length(t) > 0) AS toks
        |  FROM documents),
        |nn AS (SELECT doc_id, toks, len(toks) AS n
        |       FROM d WHERE len(toks) > 0),
        |st AS (SELECT doc_id, toks, u.s AS start_tok
        |       FROM nn, UNNEST(generate_series(0,
        |         greatest(0, (n - 4 - 1) // 12) * 12, 12)) AS u(s)),
        |ck AS (SELECT doc_id, start_tok,
        |         toks[start_tok + 1 : start_tok + 16] AS chunk FROM st)
        |SELECT doc_id, CAST(start_tok // 12 AS BIGINT) AS chunk_idx,
        |       CAST(start_tok AS BIGINT) AS start_tok,
        |       CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
        |       array_to_string(chunk, ' ') AS chunk_text
        |FROM ck""".stripMargin,
    "q_doc_keywords" ->
      // same index CTEs as q_bm25_topk, per-DOC ranking instead of
      // per-query; the score tree mirrors Spark's parenthesization
      """WITH tok0 AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |tok AS (SELECT doc_id, term FROM tok0 WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY 1),
        |g AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
        |      FROM tok),
        |sc AS (SELECT tf.doc_id, tf.term, CAST(floor(
        |    (CAST(tf.tf AS DOUBLE)
        |     * (((CAST(g.n AS DOUBLE) - CAST(f.df AS DOUBLE))
        |         + CAST(0.5 AS DOUBLE))
        |        / (CAST(f.df AS DOUBLE) + CAST(0.5 AS DOUBLE))))
        |    * CAST(1048576.0 AS DOUBLE)) AS BIGINT) AS q
        |  FROM tf JOIN dfq f ON tf.term = f.term CROSS JOIN g),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY q DESC, term ASC) AS rnk FROM sc)
        |SELECT doc_id, string_agg(term, '|' ORDER BY rnk) AS keywords,
        |       CAST(max(CASE WHEN rnk = 1 THEN q END) AS BIGINT)
        |         AS top_score
        |FROM r WHERE rnk <= 3 GROUP BY doc_id""".stripMargin,
    "q_source_quantiles" ->
      // q_token_quantiles partitioned by source: same histogram, same
      // type-1 pick, per-group windows
      """WITH h AS (SELECT source,
        |             len(regexp_split_to_array(trim(text), '\s+')) AS v,
        |             count(*) AS c
        |           FROM documents WHERE text IS NOT NULL GROUP BY 1, 2),
        |cum AS (SELECT source, v,
        |          CAST(sum(c) OVER (PARTITION BY source ORDER BY v)
        |            AS BIGINT) AS cum,
        |          CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS total
        |        FROM h),
        |qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |         CAST(0.99 AS DOUBLE)]) AS q),
        |pick AS (SELECT source, q, v, cum, row_number() OVER (
        |           PARTITION BY source, q ORDER BY v) AS rn
        |         FROM qs JOIN cum
        |           ON cum >= greatest(CAST(1 AS BIGINT),
        |                CAST(ceil(q * CAST(total AS DOUBLE)) AS BIGINT)))
        |SELECT source, q, CAST(v AS BIGINT) AS value, cum AS n_le
        |FROM pick WHERE rn = 1""".stripMargin,
    "q_crawl_budget" ->
      // the largest-remainder method re-derived: integer floor + mod,
      // leftover scalar, distinct-remainder above-counts, per-tie
      // row_number by host
      """WITH h AS (SELECT source AS host, CAST(count(*) AS BIGINT) AS n_pages
        |           FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_pages) AS BIGINT) AS N FROM h),
        |b AS (SELECT host, n_pages, (137 * n_pages) // N AS fl,
        |        (137 * n_pages) % N AS rem
        |      FROM h, t),
        |lo AS (SELECT 137 - CAST(sum(fl) AS BIGINT) AS L FROM b),
        |hist AS (SELECT rem, count(*) AS cnt FROM b GROUP BY 1),
        |ab AS (SELECT rem, coalesce(sum(cnt) OVER (ORDER BY rem DESC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         AS above
        |       FROM hist),
        |rn AS (SELECT b.host, b.n_pages, b.fl, ab.above,
        |         row_number() OVER (PARTITION BY b.rem ORDER BY b.host)
        |           AS rn
        |       FROM b JOIN ab ON b.rem = ab.rem)
        |SELECT host, n_pages,
        |  CAST(fl + CASE WHEN above + rn <= (SELECT L FROM lo)
        |                 THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM rn""".stripMargin,
    "q_quantize_int8" ->
      // symmetric max-abs int8: the same left-associative (x·127)/m floor,
      // clamp, and integer audit sums re-derived over the raw embeddings
      """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, CAST(len(v) AS BIGINT) AS dim,
        |        coalesce(list_max(list_transform(v, x -> abs(x))),
        |                 CAST(0.0 AS DOUBLE)) AS max_abs
        |      FROM e),
        |raw AS (SELECT vec_id,
        |          CASE WHEN max_abs = CAST(0.0 AS DOUBLE) THEN 0
        |               ELSE CAST(floor(v[u.i] * CAST(127.0 AS DOUBLE)
        |                 / max_abs) AS BIGINT) END AS r
        |        FROM m, UNNEST(generate_series(1, len(v))) AS u(i)),
        |q AS (SELECT vec_id,
        |        greatest(CAST(-128 AS BIGINT),
        |          least(CAST(127 AS BIGINT), r)) AS qv,
        |        CASE WHEN r > 127 OR r < -128 THEN 1 ELSE 0 END AS clipped
        |      FROM raw),
        |agg AS (SELECT vec_id, CAST(sum(qv) AS BIGINT) AS sum_q,
        |          CAST(min(qv) AS BIGINT) AS min_q,
        |          CAST(max(qv) AS BIGINT) AS max_q,
        |          CAST(sum(clipped) AS BIGINT) AS n_clipped
        |        FROM q GROUP BY 1)
        |SELECT m.vec_id, m.dim, m.max_abs,
        |  coalesce(a.sum_q, 0) AS sum_q, coalesce(a.min_q, 0) AS min_q,
        |  coalesce(a.max_q, 0) AS max_q,
        |  coalesce(a.n_clipped, 0) AS n_clipped
        |FROM m LEFT JOIN agg a ON m.vec_id = a.vec_id""".stripMargin,
    "q_int8_topk" ->
      // the whole quantized-search path re-derived: per-vector max-abs
      // int8 (same floor/clamp), query = vec_id 0, INTEGER dots, rank by
      // (dot desc, id asc)
      """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        coalesce(list_max(list_transform(v, x -> abs(x))),
        |                 CAST(0.0 AS DOUBLE)) AS ma
        |      FROM e),
        |q AS (SELECT vec_id, u.i AS pos,
        |        CASE WHEN ma = CAST(0.0 AS DOUBLE) THEN 0
        |             ELSE greatest(CAST(-128 AS BIGINT),
        |               least(CAST(127 AS BIGINT),
        |                 CAST(floor(v[u.i] * CAST(127.0 AS DOUBLE) / ma)
        |                   AS BIGINT))) END AS qv
        |      FROM m, UNNEST(generate_series(1, len(v))) AS u(i)),
        |qq AS (SELECT pos, qv FROM q WHERE vec_id = 0),
        |d AS (SELECT q.vec_id, CAST(sum(q.qv * qq.qv) AS BIGINT) AS dot_q
        |      FROM q JOIN qq ON q.pos = qq.pos GROUP BY 1)
        |SELECT vec_id, dot_q FROM d
        |ORDER BY dot_q DESC, vec_id LIMIT 10""".stripMargin,
    "q_url_patterns" ->
      // same template collapse: hex→H, digits→N, query values→V, fixed
      // order, 'g' flag (Spark replaces all by default); host via the
      // established lexical authority extraction
      s"""WITH u AS (SELECT DISTINCT dst_url AS u FROM ${side("side_links")}),
         |p AS (SELECT u,
         |  lower(NULLIF(regexp_extract(u,
         |    '$HostAuthorityRegex',
         |    1), '')) AS host,
         |  regexp_replace(regexp_replace(regexp_replace(lower(u),
         |    '[0-9a-f]{8,}', 'H', 'g'), '[0-9]+', 'N', 'g'),
         |    '=[^&#]*', '=V', 'g') AS pattern
         |  FROM u)
         |SELECT host, pattern, count(*) AS n_urls, min(u) AS sample_url,
         |       count(*) > 20 AS is_trap
         |FROM p GROUP BY 1, 2""".stripMargin,
    "q_media_decode" ->
      // the 64×32 two-tone raster (left 32 cols color A(id), right 32
      // color B(id)) and its 16×8 box resize (4×4 boxes never straddle
      // the split, box average of a constant is exact), all channel
      // sums as closed-form integer arithmetic in the id
      """WITH ids AS (SELECT unnest(generate_series(0, 199)) AS i),
        |c AS (SELECT CAST(i AS BIGINT) AS media_id,
        |        CAST(i % 256 AS BIGINT) AS ar,
        |        CAST((i * 7) % 256 AS BIGINT) AS ag,
        |        CAST((i * 13) % 256 AS BIGINT) AS ab,
        |        CAST((i * 3) % 256 AS BIGINT) AS br,
        |        CAST((i * 5) % 256 AS BIGINT) AS bg,
        |        CAST((i * 11) % 256 AS BIGINT) AS bb
        |      FROM ids)
        |SELECT media_id,
        |       CAST(64 AS INT) AS width, CAST(32 AS INT) AS height,
        |       32 * (32 * ar + 32 * br) AS sum_r,
        |       32 * (32 * ag + 32 * bg) AS sum_g,
        |       32 * (32 * ab + 32 * bb) AS sum_b,
        |       CAST(16 AS INT) AS r_width, CAST(8 AS INT) AS r_height,
        |       8 * (8 * ar + 8 * br) AS r_sum_r,
        |       8 * (8 * ag + 8 * bg) AS r_sum_g,
        |       8 * (8 * ab + 8 * bb) AS r_sum_b
        |FROM c""".stripMargin,
    "q_audio_decode" ->
      // sample i of clip id = ((id·31 + i·7) mod 2001) − 1000; sums,
      // absolute sums, and peaks re-derived per clip by generate_series
      """WITH ids AS (SELECT unnest(generate_series(0, 199)) AS id),
        |s AS (SELECT CAST(id AS BIGINT) AS media_id,
        |        CAST((id * 31 + u.i * 7) % 2001 - 1000 AS BIGINT) AS v
        |      FROM ids, UNNEST(generate_series(0, 255)) AS u(i))
        |SELECT media_id, count(*) AS n_samples,
        |       CAST(sum(v) AS BIGINT) AS sum_samples,
        |       CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |       max(abs(v)) AS peak_abs
        |FROM s GROUP BY media_id""".stripMargin
  ))
}
