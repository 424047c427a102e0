package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** page_headers sidecar + has_headers_changed precheck (reference
  * data/db_manager.py:32-33, core/scraper.py:580-621): missing stored row
  * ⇒ changed; any-of-three field diff ⇒ changed; None == None ⇒ unchanged;
  * header-unchanged rows skip extraction entirely. */
class HeadersSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def cur = Seq(
    // (url, last_modified, etag, content_length, html)
    ("u1", "2024-01-01", "e1", 100L, "<p>same</p>"),          // identical → skip
    ("u2", "2024-01-02", "e2", 200L, "<p>len changed</p>"),   // length differs
    ("u3", "2024-01-03", null.asInstanceOf[String], 300L, "<p>null etag both</p>"), // None==None → skip
    ("u4", "2024-01-04", "e4", 400L, "<p>new url</p>"),       // no stored row
    ("u5", "2024-01-05", "e5", 500L, "<p>etag now set</p>")   // null → value
  ).toDF("url", "last_modified", "etag", "content_length", "html")

  private def stored = Seq(
    ("u1", "2024-01-01", "e1", 100L),
    ("u2", "2024-01-02", "e2", 999L),
    ("u3", "2024-01-03", null.asInstanceOf[String], 300L),
    ("u5", "2024-01-05", null.asInstanceOf[String], 500L)
  ).toDF("url", "last_modified", "etag", "content_length")

  test("changedOnly keeps exactly the new/changed urls, null-safely") {
    val kept = Headers.changedOnly(cur, stored).select("url").as[String].collect().toSet
    assert(kept == Set("u2", "u4", "u5"))
  }

  test("passthrough: non-header columns survive the filter untouched") {
    val row = Headers.changedOnly(cur, stored).filter($"url" === "u2")
      .select("html").as[String].head()
    assert(row == "<p>len changed</p>")
  }

  test("e2e: header-unchanged rows never reach the extractor") {
    val ts = new java.sql.Timestamp(1700000000000L)
    val pages = Headers.changedOnly(cur, stored)
      .select($"url", lit(ts).as("warc_ts"),
        encode($"html", "UTF-8").as("html"),
        lit(null: String).as("text"), lit("en").as("lang"))
      .as[PageRow]
    val out = Extract.extract(pages).map(_.doc.url).collect().toSet
    assert(out == Set("u2", "u4", "u5")) // u1/u3 skipped before extraction
  }

  test("sidecar write: INSERT OR REPLACE per url — partial refresh loses nothing") {
    val dir = tempDir("graft_headers_spec") + "/sidecar"
    // a url PROVABLY sharing u2's bucket — the case the old bucket-wipe
    // write lost on refresh
    val u2Bucket = Extract.urlBucket("u2", 4)
    val collider = (1 to 1000).map(i => s"w$i")
      .find(u => Extract.urlBucket(u, 4) == u2Bucket).get
    val seeded = stored.union(
      Seq((collider, "2024-01-06", "ec", 600L))
        .toDF("url", "last_modified", "etag", "content_length"))
    Headers.writeSidecar(seeded, dir, numBuckets = 4)
    val v1 = spark.read.parquet(dir)
    assert(v1.count() == 5 &&
      v1.columns.toSet == Set("url", "last_modified", "etag", "content_length", "url_bucket"))
    // refresh with u2's new headers: u2 replaced, EVERY other stored url
    // survives — including the one hashing into u2's rewritten bucket
    Headers.writeSidecar(
      Seq(("u2", "2024-01-02", "e2", 200L))
        .toDF("url", "last_modified", "etag", "content_length"), dir, numBuckets = 4)
    val v2 = spark.read.parquet(dir)
    assert(v2.count() == 5)
    assert(v2.filter($"url" === "u2").select("content_length").as[Long].collect().toSeq
      == Seq(200L))
    assert(v2.select("url").as[String].collect().toSet ==
      Set("u1", "u2", "u3", "u5", collider))
    assert(v2.filter($"url" === collider).select("etag").as[String].head() == "ec")
    // untouched-bucket files are not rewritten: only touched buckets change
    // (verified through behavior — u1/u3/u5 header values are unchanged)
    assert(v2.filter($"url" === "u5").select("etag").as[String].collect().toSeq
      == Seq(null))
    // a duplicate-url batch upserts ONE deterministic row per url
    Headers.writeSidecar(
      Seq(("u9", "2024-01-09", "e9a", 900L), ("u9", "2024-01-09", "e9b", 900L))
        .toDF("url", "last_modified", "etag", "content_length"), dir, numBuckets = 4)
    val u9 = spark.read.parquet(dir).filter($"url" === "u9")
    assert(u9.count() == 1)
    assert(u9.select("etag").as[String].head() == "e9b") // max header triple
    assert(spark.read.parquet(dir).count() == 6)
  }
}
