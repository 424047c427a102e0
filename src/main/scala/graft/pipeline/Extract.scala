package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.clean.{Cleaner, Sanitize}
import graft.html.{HtmlParser, Serializer}
import graft.links.LinkExtractor
import graft.meta.MetadataExtractor
import graft.pdf.PdfText
import graft.url.PyUrl

/**
 * The Spark extraction graph (SURVEY §3.1 Spark equivalent):
 *
 *   scan pages → validity/blocklist filters (relational, BEFORE the typed
 *   map so pushdown/pruning stay columnar — SURVEY §4.2) → latest-per-url
 *   dedup (single url-hash shuffle) → changed-only anti-join vs previous
 *   snapshot on (url, content_sha256, size) projections — never shuffling
 *   `html` payloads for the compare — → `mapPartitions` extraction (parser
 *   state amortized per partition; per-row failure isolation) → writes
 *   docs_clean / doc_meta / links / metrics / progress.
 *
 * Scale notes (100 TB / 10^12 docs):
 *  - the ONLY payload-bearing shuffle is the latest-per-url window; with
 *    Iceberg `bucket(url)` layout it disappears (storage-partitioned scan) —
 *    locally the parquet input is already partitioned by `url_bucket`, and
 *    `dedupInPartition=true` exploits it;
 *  - change-detection joins project (url, sha256, size) only — ~60 bytes/row;
 *  - AQE handles skewed hosts on the links rollups; extraction itself is
 *    embarrassingly parallel after dedup;
 *  - resume: `progress` ledger keyed by (run_id, url_bucket); a re-run
 *    anti-joins completed buckets (idempotent per-bucket dynamic overwrite).
 */
object Extract {

  val DefaultBuckets = 16

  /** JVM-local diagnostic: total `extractPage` invocations. Meaningful in
    * local mode only (specs assert extraction-pass sharing with it);
    * one relaxed increment per row — noise next to a ~100µs parse. */
  val extractCalls = new java.util.concurrent.atomic.LongAdder()

  /** Injective bucket→shuffle-key remap: value `remap(b)` Murmur3-hashes
    * (seed 42 — Spark's `HashPartitioning` for an int column) into a
    * DISTINCT partition under `pmod(hash, numBuckets)` for every bucket.
    * `repartition(n, col("url_bucket"))` alone hashes n small ints into n
    * slots — a birthday-collision layout (measured at n=64: 37 non-empty
    * partitions, the worst task carrying 4 buckets while 27 slots idle —
    * guide §2.5's "synthetic partitioning keys with too few distinct
    * values"), which makes the docs_clean write stage run at the speed of
    * its most-collided task. Greedy search: for bucket b try b, b+n,
    * b+2n, … until an unused partition is hit — O(n·H(n)) hashes total,
    * microseconds up to the 10^4-bucket cluster design point, computed
    * per call (numBuckets is a parameter, not a constant). */
  private[pipeline] def bijectiveBucketRemap(numBuckets: Int): Array[Int] = {
    import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
    import org.apache.spark.sql.types.IntegerType
    val used = new Array[Boolean](numBuckets)
    val out = new Array[Int](numBuckets)
    var b = 0
    while (b < numBuckets) {
      var cand = b
      var placed = false
      while (!placed) {
        val h = Murmur3HashFunction.hash(cand, IntegerType, 42L)
        val p = (((h % numBuckets) + numBuckets) % numBuckets).toInt
        if (!used(p)) { used(p) = true; out(b) = cand; placed = true }
        else cand += numBuckets
      }
      b += 1
    }
    out
  }

  /** url-hash bucket — EXACT parity with the SQL `pmod(xxhash64(url), n)`
    * (same XxHash64, seed 42, over UTF-8 bytes), so typed-map outputs and
    * relational bucket filters never disagree. A null url has no hash
    * here; [[extractPage]] files it under bucket 0, which [[bucketCol]]
    * mirrors. */
  def urlBucket(url: String, numBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(url),
      org.apache.spark.sql.types.StringType, 42L)
    (((h % numBuckets) + numBuckets) % numBuckets).toInt
  }

  /** The relational twin of the bucket [[extractPage]] assigns (a bigint
    * column): `pmod(xxhash64(url), n)`, and 0 for a null url. Plain SQL
    * would file a null url under `pmod(42, n)` — xxhash64(NULL) is its
    * seed — so a resume filter on it would re-extract (or silently drop)
    * that row against the wrong bucket's done mark. The one SQL spelling
    * of the bucket: every writer and filter of a `url_bucket` uses it. */
  private[graft] def bucketCol(url: Column, numBuckets: Int): Column =
    when(url.isNull, lit(0L)).otherwise(pmod(xxhash64(url), lit(numBuckets)))

  /** Per-row extraction — pure, total (failures captured, never thrown).
    * Content kind dispatch mirrors the reference's MIME routing
    * (core/scraper.py:500-517, core/scraper_core.py:42-44) keyed off content
    * shape: PDF magic → pdf; leading `<?xml` → xml; url extension fallback. */
  def extractPage(row: PageRow, numBuckets: Int,
                  pivotYear: Int = graft.meta.PyDateUtil.DefaultPivotYear): ExtractedPage = {
    extractCalls.increment()
    // null-safe: the bucket is computed OUTSIDE the failure-isolation try
    // (the catch needs it too), so a null url must not NPE the whole task
    val bucket = if (row.url == null) 0 else urlBucket(row.url, numBuckets)
    def emptyMeta = DocMetaRow(row.url, row.warc_ts, null, null, null, null,
      Nil, Map.empty, Nil, null, row.lang)
    val size = if (row.html == null) 0L else row.html.length.toLong
    val sha = if (row.html == null) null else hexSha256(row.html)
    try {
      staged("decode") { require(row.html != null, "null html payload") }
      val (kind, text, cleanedHtml, meta, links, anchors) = dispatch(row, pivotYear)
      // an edge is internal when its netloc is the source's: parsed once per
      // page, and only for a page with edges
      val srcNetloc = if (links.isEmpty) null else PyUrl.urlparse(row.url).netloc
      ExtractedPage(
        DocClean(row.url, row.warc_ts, text, cleanedHtml, sha, size, kind,
          bucket, parse_failed = false, null, null),
        meta.getOrElse(emptyMeta),
        links.map(e => LinkEdge(e.dstUrl, e.kind, e.srcTag, e.anchor,
          PyUrl.urlparse(e.dstUrl).netloc == srcNetloc)),
        anchors)
    } catch {
      case e: Throwable => // failure isolation: row-level, never task-level
        // classification mirrors the reference's exception taxonomy
        // (logging/custom_exceptions.py + the typed handlers in
        // core/scraper.py:241-268): the stage tag names the failing layer
        // so the metrics rollup can tell a decode storm from a parser
        // regression; the captured reason string is the ORIGINAL
        // exception's (the tag never rewrites it)
        val (cls, cause) = e match {
          case StageFailure(s, c) => (s, c)
          case c => ("unknown", c)
        }
        ExtractedPage(
          DocClean(row.url, row.warc_ts, null, null, sha, size, "error",
            bucket, parse_failed = true,
            s"${cause.getClass.getSimpleName}: ${String.valueOf(cause.getMessage).take(200)}",
            cls),
          emptyMeta, Nil, Nil)
    }
  }

  /** Failure-taxonomy stage tag (SURVEY §2.10 circuit-breaker mapping +
    * the reference's Timeout/Connection/HTTP/Parsing classes): wraps one
    * dispatch layer so any throw carries the layer's class —
    * `decode` (payload absent/undecodable: the batch successor of the
    * NetworkError family — fetch already happened upstream), `pdf`,
    * `xml_strict`, `parse` (HTML/plain-text parse+clean+meta), and
    * `unknown` for anything untagged. Most layers are deliberately
    * crash-resistant (PdfText returns null on bad streams; the HTML
    * parser is total), so some classes are only reachable through genuine
    * defects — exactly what the rollup is for. */
  private final case class StageFailure(stage: String, cause: Throwable)
      extends RuntimeException(cause)

  private[pipeline] def staged[T](name: String)(body: => T): T =
    try body catch {
      case sf: StageFailure => throw sf // innermost tag wins
      case e: Throwable => throw StageFailure(name, e)
    }

  /** The class a captured throwable maps to (spec hook). */
  private[pipeline] def classify(e: Throwable): String = e match {
    case StageFailure(s, _) => s
    case _ => "unknown"
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** Lowercase-hex SHA-256 — the ONE definition both the batch extractor
    * and the streaming dedup hash with (they must agree byte-for-byte for
    * dedupStream's sha to match docs_clean's content_sha256). */
  private[graft] def hexSha256(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hexChars((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private def dispatch(row: PageRow, pivotYear: Int): (String, String, String,
      Option[DocMetaRow], Seq[graft.links.Edge], Seq[String]) = {
    if (PdfText.isPdf(row.html)) {
      ("pdf", staged("pdf") { PdfText.extract(row.html) }, null, None, Nil, Nil)
    } else {
      val content = staged("decode") { HtmlParser.decode(row.html) }
      val head = content.take(256)
      if (head.startsWith("<?xml") && !head.contains("<html")) {
        // application/xml branch (core/scraper.py:512-514): parsed, stored;
        // text = whitespace-normalized character data
        staged("xml_strict") {
          val doc = HtmlParser.parse(content, xmlMode = true)
          ("xml", Cleaner.normalizedText(doc),
            Serializer.serialize(doc, content.length + 64), None, Nil, Nil)
        }
      } else if (!head.contains("<")) {
        ("text", staged("parse") { Cleaner.cleanPlainText(content) },
          null, None, Nil, Nil)
      } else staged("parse") {
        // HTML branch — parse ONCE; metadata/links/anchors from the RAW dom
        // (the reference extracts links from raw content,
        // link_extractor.py:17; its post-clean metadata/asset extraction is
        // vacuous because cleaning removes every <meta>/<link> first — the
        // raw-dom order is the intended semantics, SURVEY §2.3/§2.9)
        val rawDoc = HtmlParser.parse(content)
        val m = MetadataExtractor.extract(rawDoc, row.url, pivotYear)
        val edges = LinkExtractor.edges(rawDoc, row.url)
        val anchors = LinkExtractor.anchorIds(rawDoc)
        // clean in place (same DOM — extraction already materialized)
        val text = Cleaner.cleanDocument(rawDoc, row.url)
        // reference order (core/scraper.py:502-510): clean → asset-ref
        // rewrite on the CLEANED soup → process_html_content; ONE shared
        // post-clean index feeds both (was ~9 findAll walks)
        val pcix = Sanitize.indexPostClean(rawDoc)
        Sanitize.updateAssetReferences(row.url, pcix)
        Sanitize.processHtmlContent(rawDoc, row.url, pcix)
        val metaRow = DocMetaRow(row.url, row.warc_ts, m.title.orNull,
          m.description.orNull, m.keywords.orNull, m.lastModified.orNull,
          m.authors, m.og.toMap, m.structuredData, m.canonical.orNull, row.lang)
        ("html", text, Serializer.serialize(rawDoc, content.length + 64),
          Some(metaRow), edges, anchors)
      }
    }
  }

  /** Latest-snapshot-per-url dedup (SURVEY §2.5 latest-hash-per-key),
    * shuffle-minimized: a url with a single snapshot (the overwhelming
    * majority of a crawl table) never shuffles its payload — only the
    * (url, count) keys aggregate (map-side combine, ~40 B/row), urls with
    * >1 snapshot broadcast back, and just THAT slice takes the window
    * shuffle. Under an Iceberg bucket(url) layout even that vanishes
    * (storage-partitioned).
    *
    * The broadcast is SIZE-GATED: the dup-url key set is counted first (one
    * extra aggregate over the url column only — map-side combined, never a
    * payload scan) and the split-broadcast plan is used only when it fits
    * `maxDupBroadcast`; a recrawl-heavy corpus (most urls with >=2
    * snapshots → dup set O(n)) falls back to the plain window, which
    * shuffles once instead of OOMing the driver on an unbounded broadcast. */
  /** `alignDupsTo > 0` re-places the (small) deduped-dup slice into
    * url-bucket-aligned partitions so a downstream
    * `repartitionForWrite=false` partitioned write stays one-file-per-
    * bucket — without it the window's url-hash partitions each fan out
    * into every bucket directory (measured: 2,368 files vs 128). The
    * unique slice never moves either way. */
  def latestPerUrl(pages: Dataset[PageRow],
                   maxDupBroadcast: Long = 1000000L,
                   alignDupsTo: Int = 0): Dataset[PageRow] = {
    import pages.sparkSession.implicits._
    val dupUrls = pages.groupBy($"url").agg(count(lit(1)).as("__n"))
      .filter($"__n" > 1).select($"url".as("__dup_url"))
    val nDup = dupUrls.count()
    if (nDup == 0L) pages
    else if (nDup <= maxDupBroadcast) {
      val uniques = pages.join(broadcast(dupUrls),
        pages("url") === $"__dup_url", "left_anti").as[PageRow]
      val dups = pages.join(broadcast(dupUrls),
        pages("url") === $"__dup_url", "left_semi").as[PageRow]
      val dedupedDups = latestPerUrlWindow(dups)
      val placed =
        if (alignDupsTo > 0)
          dedupedDups.repartition(alignDupsTo,
            bucketCol($"url", alignDupsTo)).as[PageRow]
        else dedupedDups
      uniques.union(placed)
    } else latestPerUrlWindow(pages)
  }

  /** Plain window variant (full url-keyed shuffle of the payload).
    * Total order: warc_ts desc, then xxhash64(html) desc — two snapshots of
    * a url with EQUAL timestamps pick a deterministic keeper, so identical
    * reruns produce identical docs_clean bytes (determinism rule; xxhash64
    * is far cheaper than sha2 and only ordering stability is needed). */
  def latestPerUrlWindow(pages: Dataset[PageRow]): Dataset[PageRow] = {
    import pages.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"url")
      .orderBy($"warc_ts".desc, xxhash64($"html").desc)
    pages.withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1).drop("__rn").as[PageRow]
  }

  /** Changed-only filter vs a previous snapshot (SURVEY §2.4 flagship join):
    * left join on url over (url, sha, size) PROJECTIONS; keep new/changed.
    * `prev` is docs_clean-shaped (url, content_sha256, size). */
  def changedOnly(current: Dataset[PageRow], prev: DataFrame): Dataset[PageRow] = {
    import current.sparkSession.implicits._
    val prevSlim = prev.select($"url".as("p_url"),
      $"content_sha256".as("p_sha"), $"size".as("p_size"))
    val curKeys = current.select($"url", $"warc_ts",
      sha2($"html", 256).as("c_sha"), length($"html").cast("long").as("c_size"))
    val changedKeys = curKeys.join(prevSlim, $"url" === $"p_url", "left_outer")
      // null-SAFE compares: a null current sha/size (null html) must read
      // as CHANGED — the reference's "can't check ⇒ assume changed"
      // (core/scraper.py:592); plain =!= evaluates NULL and silently
      // drops such rows as unchanged
      .filter($"p_sha".isNull ||
        !($"p_sha" <=> $"c_sha") || !($"p_size" <=> $"c_size"))
      .select($"url".as("k_url"), $"warc_ts".as("k_ts"))
    current.join(changedKeys,
      current("url") === $"k_url" && current("warc_ts") === $"k_ts", "left_semi")
      .as[PageRow]
  }

  /** Typed extraction map — object-exec boundary kept narrow: only
    * (url, warc_ts, html, lang) should reach here (project before). */
  def extract(pages: Dataset[PageRow], numBuckets: Int = DefaultBuckets,
              pivotYear: Int = graft.meta.PyDateUtil.DefaultPivotYear): Dataset[ExtractedPage] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it => it.map(extractPage(_, numBuckets, pivotYear)) }
  }

  final case class RunSummary(docs: Long, failures: Long, buckets: Int)

  /** The one bucket-partitioned write of the pipeline: `url_bucket`
    * partition dirs, dynamic overwrite (writer-scoped — the session conf is
    * never mutated), so a write replaces exactly the buckets present in
    * `df`. A resume or partial refresh therefore keeps every other bucket's
    * rows; a full overwrite would wipe completed buckets' outputs (and an
    * all-done idempotent rerun would empty the metrics sidecar). */
  private[graft] def bucketWrite(df: DataFrame): DataFrameWriter[Row] =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").partitionBy("url_bucket")

  /**
   * Full job: dedup → (optional changed-only) → extract → write all outputs
   * under `outDir`, skipping url_buckets already completed in the `progress`
   * ledger for this `runId` (checkpoint-resume with per-partition lineage).
   */
  def run(spark: SparkSession, pages: Dataset[PageRow], outDir: String,
          runId: String, numBuckets: Int = DefaultBuckets,
          prevSnapshot: Option[DataFrame] = None,
          blocklist: Option[Dataset[String]] = None,
          repartitionForWrite: Boolean = true,
          // determinism param: pins the two-digit-year pivot for date-meta
          // normalization (same policy as the parameterized extraction_date)
          pivotYear: Int = graft.meta.PyDateUtil.DefaultPivotYear): RunSummary = {
    import spark.implicits._

    val ledgerPath = s"$outDir/progress"
    val doneBuckets: Set[Int] =
      if (!ledgerPath.contains("://") && !new java.io.File(ledgerPath).exists())
        Set.empty // fresh run, no ledger yet (skip the noisy failed read)
      else
        try spark.read.parquet(ledgerPath)
          .filter($"run_id" === runId && $"status" === "done")
          .select($"url_bucket").distinct().as[Int].collect().toSet
        catch { case _: Exception => Set.empty }

    // relational pre-filters FIRST (columnar side of the object boundary)
    var input = pages
    blocklist.foreach { bl =>
      input = input.join(broadcast(bl.toDF("b_url")),
        input("url") === $"b_url", "left_anti").as[PageRow]
    }
    if (doneBuckets.nonEmpty) // only on resume — the extra filter costs a
      input = input.filter( // full decode pass otherwise
        !bucketCol($"url", numBuckets).isin(doneBuckets.toSeq: _*))

    val deduped = latestPerUrl(input,
      alignDupsTo = if (repartitionForWrite) 0 else numBuckets)
    val current = prevSnapshot match {
      case Some(prev) => changedOnly(deduped, prev)
      case None       => deduped
    }

    // ONE parse per page, ONE heavy write: docs_clean carries the meta
    // struct + links/anchors arrays as extra nested columns; the sidecar
    // tables derive from the WRITTEN parquet by columnar selects (readers of
    // docs_clean column-prune the nested extras away). At 100 TB this beats
    // both RAM-caching the extraction output and re-parsing per output.
    // repartition on url_bucket before the write: one file per bucket
    // (bucket-aligned layout for downstream joins; locally it also sidesteps
    // RawLocalFileSystem's per-file fork+exec chmod storm — task-count ×
    // bucket-count small files serialize on process spawn otherwise).
    // When the INPUT is already bucket-aligned (Iceberg bucket(url) /
    // parquet partitioned by url_bucket), pass repartitionForWrite=false:
    // each task holds one bucket's rows, so the partitioned write emits one
    // file per split WITHOUT shuffling the extracted payloads at all — the
    // exchange-free path (BucketedSpec proves the plan; Bench measures it).
    // record the buckets THIS run's extraction actually produced (a
    // set-semantics accumulator filled during the docs_clean write job —
    // per-task state and the merged driver value are both bounded by
    // numBuckets, never by row count, and retried tasks are idempotent).
    // "All written buckets minus this runId's done set" is NOT equivalent:
    // a reused outDir holding a DIFFERENT run's output would sweep those
    // stale buckets into this run's sidecars, metrics, ledger, and summary.
    val bucketAcc = new BucketSetAccumulator
    spark.sparkContext.register(bucketAcc, "graft.run.buckets")
    val extracted = extract(current, numBuckets, pivotYear)
      .map { p => bucketAcc.add(p.doc.url_bucket); p }
      .select(col("doc.*"), col("meta"), col("links"), col("anchors"))
    // repartition on the REMAPPED bucket key ([[bijectiveBucketRemap]]):
    // plain hash-repartition on url_bucket collides n small ints into n
    // slots and the write stage then runs at its most-collided task's
    // speed; the remap puts exactly one bucket in each write task (same
    // rows, same bucket dirs — only the task assignment changes)
    val toWrite =
      if (repartitionForWrite) {
        val remap = bijectiveBucketRemap(numBuckets)
        extracted.repartition(numBuckets,
          element_at(typedLit(remap.toSeq), col("url_bucket") + 1))
      } else extracted
    bucketWrite(toWrite)
      // row-group buffer cap: every concurrent writer task holds up to
      // parquet.block.size of encoder buffers, so local[32] with the
      // default 128 MB peaks at ~4 GB of the 8 GB driver heap — the
      // measured transient-OOM mode of this box's write stage. 64 MB
      // halves the peak for negligible read cost at the ≤64 MB bucket
      // files this run size produces; cluster deployments writing
      // 512 MB–1 GB files restore the default via
      // SPARK_GRAFT_PARQUET_BLOCK (scale-dependent setting, env-
      // parameterised per the local-vs-cluster config rule).
      .option("parquet.block.size",
        sys.env.getOrElse("SPARK_GRAFT_PARQUET_BLOCK",
          (64L * 1024 * 1024).toString))
      .parquet(s"$outDir/docs_clean")

    val processedBuckets = bucketAcc.value
    // ONE read of the just-written docs_clean feeds the sidecars and the
    // metrics rollup (no recompute of the extraction; the rollup scans 4
    // narrow columns). It is read with the schema it was written with: a
    // recrawl in which no page changed writes no file, and schema
    // inference over an empty dir throws. The POSITIVE partition filter on
    // the processed set prunes to exactly this run's buckets (stale/done
    // buckets' files are untouched and keep their sidecar and metrics rows).
    val written = spark.read.schema(toWrite.schema).parquet(s"$outDir/docs_clean")
      .filter($"url_bucket".isin(processedBuckets.toSeq: _*))
    val metrics = written.groupBy($"url_bucket").agg(
      count(lit(1)).as("docs_parsed"),
      sum(when($"parse_failed", 1L).otherwise(0L)).as("parse_failures"),
      sum($"size").as("input_bytes"),
      sum(coalesce(length($"text").cast("long"), lit(0L))).as("output_chars"))
      .withColumn("bytes_stripped", $"input_bytes" - $"output_chars")
      .withColumn("run_id", lit(runId))

    // The three sidecar writes and the metrics rollup are INDEPENDENT jobs
    // over the just-written docs_clean (disjoint output dirs), so they are
    // submitted concurrently from a small driver pool — the scheduler
    // back-fills executors freed by one job's write tail with the next
    // job's scan tasks instead of serializing four tails (guide §2.6;
    // job descriptions are thread-local, failures rethrow via Await).
    val sidecarJobs: Seq[(String, DataFrame)] = Seq(
      "doc_meta" -> written.select($"meta.*", $"url_bucket"),
      "links" -> written.select($"url".as("src_url"), explode($"links").as("l"), $"url_bucket")
        .select($"src_url", $"l.*", $"url_bucket"),
      "anchors" -> written.select($"url", explode($"anchors").as("anchor_id"), $"url_bucket"),
      "metrics" -> metrics)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sidecarJobs.size)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val fs = sidecarJobs.map { case (nm, df) =>
        scala.concurrent.Future {
          spark.sparkContext.setJobDescription(s"extract.run sidecar: $nm")
          bucketWrite(df).parquet(s"$outDir/$nm")
        }
      }
      fs.foreach(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()

    // ledger append: every processed bucket marked done for this run.
    // Derived from the just-WRITTEN metrics parquet (tiny — one row per
    // bucket), not the unpersisted `metrics` frame: re-planning that frame
    // would re-run the whole groupBy scan a second time.
    val writtenMetrics = spark.read.schema(metrics.schema).parquet(s"$outDir/metrics")
      .filter($"run_id" === runId)
    val seq = doneBuckets.size.toLong
    val ledger = writtenMetrics
      .filter($"url_bucket".isin(processedBuckets.toSeq: _*))
      .select(lit(runId).as("run_id"), $"url_bucket",
        lit("done").as("status"), $"docs_parsed".as("docs"),
        lit(seq).as("completed_seq"))
    ledger.write.mode("append").parquet(ledgerPath)

    // summary covers the whole run across resume attempts (all metrics
    // rows carrying this runId), matching the resume-idempotence contract
    val m = writtenMetrics
      .agg(coalesce(sum($"docs_parsed"), lit(0L)),
        coalesce(sum($"parse_failures"), lit(0L))).collect()(0)
    RunSummary(m.getLong(0), m.getLong(1), numBuckets)
  }
}

/**
 * Set-semantics bucket accumulator: per-row `add`s collapse into a per-task
 * BitSet and driver-side merges union BitSets, so driver memory is
 * O(numBuckets) — never O(rows). (The previous `collectionAccumulator[Int]`
 * kept one boxed Integer PER EXTRACTED ROW on the driver: ~tens of MB at
 * 1.28M docs, a guaranteed OOM at the 10^12-doc design point.) Set semantics
 * also make task retries idempotent — a resubmitted task re-setting the same
 * bits is a no-op, removing the old dedup-on-driver caveat.
 */
final class BucketSetAccumulator
    extends org.apache.spark.util.AccumulatorV2[Int, Set[Int]] {
  private val bits = new java.util.BitSet()
  override def isZero: Boolean = bits.isEmpty
  override def copy(): BucketSetAccumulator = {
    val c = new BucketSetAccumulator; c.bits.or(bits); c
  }
  override def reset(): Unit = bits.clear()
  override def add(v: Int): Unit = bits.set(v)
  override def merge(
      other: org.apache.spark.util.AccumulatorV2[Int, Set[Int]]): Unit =
    other match {
      case o: BucketSetAccumulator => bits.or(o.bits)
      case o                       => o.value.foreach(bits.set)
    }
  override def value: Set[Int] = {
    val b = Set.newBuilder[Int]
    var i = bits.nextSetBit(0)
    while (i >= 0) { b += i; i = bits.nextSetBit(i + 1) }
    b.result()
  }
  /** Bytes of driver-side state — exposed so specs can assert the bound. */
  def stateBytes: Long = bits.size().toLong / 8
}
