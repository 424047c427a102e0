package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * `page_headers` sidecar + precheck (VERDICT r02 next #7) — the batch
 * analog of the reference's stored-header skip:
 *
 *  - the SQLite table `page_headers (url PRIMARY KEY, headers JSON)` with
 *    INSERT OR REPLACE upserts (/root/reference/data/db_manager.py:32-33,
 *    core/scraper.py:612-621) becomes a bucket-partitioned parquet sidecar
 *    holding the flattened triple (last_modified, etag, content_length) —
 *    the three keys `has_headers_changed` compares;
 *  - `has_headers_changed` (/root/reference/core/scraper.py:580-591)
 *    becomes a relational filter over (url, triple) PROJECTIONS — never
 *    payloads — with exactly the reference's predicate: no stored row ⇒
 *    changed (this also covers its "can't check ⇒ assume changed" except
 *    branch), else changed iff ANY of the three fields differs, where
 *    Python's `None != None` is False ⇒ null-safe equality (`<=>`).
 *
 * Composes upstream of `Extract.changedOnly`: corpora that carry HTTP
 * header columns can drop unchanged urls from the scan BEFORE any html
 * byte moves; the sha/size precheck then catches content-changed rows the
 * headers missed. At 10^12 docs both sides of the join are ~100 B/row
 * projections on the url shuffle key (or exchange-free under bucket(url)
 * layout on both tables).
 */
object Headers {

  /** Columns `has_headers_changed` compares, in reference order. */
  val headerCols: Seq[String] = Seq("last_modified", "etag", "content_length")

  /** Write/refresh the sidecar: the INSERT OR REPLACE analog, per URL.
    * The batch is deduped to one row per url (deterministic max of the
    * header triple — a no-op on already-unique input), stored rows in the
    * touched buckets that the batch does NOT replace are carried forward,
    * and only the touched buckets are rewritten ([[Extract.bucketWrite]]).
    * A partial-batch refresh therefore loses nothing: urls sharing a bucket
    * with a refreshed url keep their stored headers. On an Iceberg deployment
    * this whole function is `MERGE INTO`; the carried slice is
    * localCheckpoint-ed (touched buckets only — bounded by the batch's
    * bucket spread) so the write never reads the files it overwrites. */
  def writeSidecar(headers: DataFrame, outDir: String,
                   numBuckets: Int = Extract.DefaultBuckets): Unit = {
    val s = headers.sparkSession
    val fresh = headers
      .select((col("url") +: headerCols.map(col)): _*)
      .groupBy(col("url"))
      .agg(max(struct(headerCols.map(col): _*)).as("__h"))
      .select(col("url") +: headerCols.map(c => col(s"__h.$c").as(c)): _*)
      .withColumn("url_bucket", Extract.bucketCol(col("url"), numBuckets).cast("int"))
    // the dynamic-overwrite committer writes no _SUCCESS marker — detect
    // an existing sidecar by its partition directories, through Hadoop FS
    // so scheme-qualified paths (file://, hdfs://, s3a://) are seen too
    // (a java.io.File check would silently skip the carry and lose data)
    val sidecarExists = {
      val p = new org.apache.hadoop.fs.Path(outDir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("url_bucket="))
    }
    val merged =
      if (!sidecarExists) fresh
      else {
        // touched buckets collected driver-side (≤ numBuckets small ints):
        // a static isin filter guarantees partition pruning at plan time —
        // runtime DPP on a semi-join is heuristic and may decline, which
        // would full-scan the stored sidecar on every partial refresh
        val touched = fresh.select(col("url_bucket")).distinct()
          .collect().map(_.getInt(0)).toSeq
        val carry = s.read.parquet(outDir)
          .filter(col("url_bucket").isin(touched: _*))
          .join(fresh.select(col("url").as("__new_url")),
            col("url") === col("__new_url"), "left_anti")
          .select(fresh.columns.map(col): _*)
        fresh.unionByName(carry).localCheckpoint()
      }
    Extract.bucketWrite(merged.repartition(numBuckets, col("url_bucket")))
      .parquet(outDir)
  }

  /** Keep CURRENT rows whose headers are new or changed vs `stored`
    * (both frames carry url + `headerCols`; `current` may carry more —
    * e.g. the page payload — which passes through untouched). */
  def changedOnly(current: DataFrame, stored: DataFrame): DataFrame = {
    val st = stored.select(col("url").as("__h_url"),
      col("last_modified").as("__h_lm"), col("etag").as("__h_et"),
      col("content_length").as("__h_cl"))
    current.join(st, current("url") === col("__h_url"), "left_outer")
      .filter(col("__h_url").isNull ||
        !(current("last_modified") <=> col("__h_lm")) ||
        !(current("etag") <=> col("__h_et")) ||
        !(current("content_length") <=> col("__h_cl")))
      .drop("__h_url", "__h_lm", "__h_et", "__h_cl")
  }
}
