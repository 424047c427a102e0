package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** End-to-end pipeline over the synthetic pages table (FIXTURES §5.4):
  * counts, latest-wins dedup, change-detection join, metrics sidecar,
  * resume idempotence. */
class ExtractE2ESpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val N = 200L

  test("generator is deterministic and splittable") {
    val a = PagesGen.pages(spark, N).collect().sortBy(r => (r.url, r.warc_ts.getTime))
    val b = PagesGen.pages(spark, N).repartition(7).collect().sortBy(r => (r.url, r.warc_ts.getTime))
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.url == y.url && x.warc_ts == y.warc_ts &&
        java.util.Arrays.equals(x.html, y.html))
    }
    // snapshot pairs present
    assert(a.length > N)
  }

  test("full run: extracts every kind, zero failures, metrics add up") {
    val out = tempDir("graft_e2e")
    val summary = Extract.run(spark, PagesGen.pages(spark, N), out, "run1")
    assert(summary.docs == N) // dedup to latest per url
    assert(summary.failures == 0)

    val docs = spark.read.parquet(s"$out/docs_clean")
    val kinds = docs.groupBy($"content_kind").count().as[(String, Long)].collect().toMap
    assert(kinds.contains("html") && kinds.contains("pdf") &&
      kinds.contains("xml") && kinds.contains("text"), kinds.toString)
    assert(docs.filter($"text".isNull || length($"text") === 0).count() == 0)

    // latest-wins: changed pages (i%10==0, i%20!=0) carry the UPDATED marker
    val changed = docs.filter($"url" === PagesGen.urlOf(10)).select($"text").as[String].head()
    assert(changed.contains("UPDATED"), changed.take(120))

    // metadata + links + anchors populated for html docs
    assert(spark.read.parquet(s"$out/doc_meta").filter($"title".isNotNull).count() > 0)
    val links = spark.read.parquet(s"$out/links")
    assert(links.filter($"kind" === "pagination").count() > 0)
    assert(links.filter($"kind" === "css").count() > 0)

    // metrics sidecar consistent with docs_clean
    val m = spark.read.parquet(s"$out/metrics")
    assert(m.agg(sum($"docs_parsed")).as[Long].head() == summary.docs)
    assert(m.agg(sum($"parse_failures")).as[Long].head() == 0)
    assert(m.select($"url_bucket").distinct().count() == m.count())

    // ledger rows for every bucket
    val ledger = spark.read.parquet(s"$out/progress")
    assert(ledger.filter($"status" === "done").count() == m.count())
  }

  test("dedup keeps exactly the max warc_ts per url") {
    val pages = PagesGen.pages(spark, 60L)
    val latest = Extract.latestPerUrl(pages)
    val expect = pages.groupBy($"url").agg(max($"warc_ts").as("warc_ts"))
    assert(latest.count() == expect.count())
    val joined = latest.select($"url", $"warc_ts")
      .except(expect.select($"url", $"warc_ts"))
    assert(joined.count() == 0)
  }

  test("dedup broadcast is size-gated: oversize dup set falls back to the window") {
    val pages = PagesGen.pages(spark, 60L)
    // force the fallback: every dup set is 'too large'
    val fallback = Extract.latestPerUrl(pages, maxDupBroadcast = 0L)
    val plan = fallback.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(plan.contains("Window"), plan.take(800))
    // and it computes the identical keeper set as the broadcast path
    val viaBroadcast = Extract.latestPerUrl(pages)
      .select($"url", $"warc_ts").as[(String, java.sql.Timestamp)].collect().toSet
    val viaWindow = fallback
      .select($"url", $"warc_ts").as[(String, java.sql.Timestamp)].collect().toSet
    assert(viaBroadcast == viaWindow)
  }

  test("equal-timestamp snapshots pick a deterministic keeper") {
    val ts = new java.sql.Timestamp(1700000000000L)
    val rows = Seq(
      PageRow("https://h/a.html", ts, "<p>v1</p>".getBytes("UTF-8"), null, "en"),
      PageRow("https://h/a.html", ts, "<p>v2</p>".getBytes("UTF-8"), null, "en"))
    val a = Extract.latestPerUrlWindow(rows.toDS()).collect()
    val b = Extract.latestPerUrlWindow(rows.reverse.toDS()).collect()
    assert(a.length == 1 && b.length == 1)
    assert(new String(a(0).html, "UTF-8") == new String(b(0).html, "UTF-8"))
  }

  test("changed-only join drops unchanged re-captures and keeps new/changed") {
    val out = tempDir("graft_prev")
    // snapshot 1 = first 100 pages (base version only: latest-per-url of i<100)
    val snap1 = Extract.latestPerUrl(PagesGen.pages(spark, 100L))
    Extract.run(spark, snap1, out, "prev_run")
    val prev = spark.read.parquet(s"$out/docs_clean")
    // snapshot 2 = 150 pages (50 new urls; same content for unchanged)
    val snap2 = Extract.latestPerUrl(PagesGen.pages(spark, 150L))
    val changed = Extract.changedOnly(snap2, prev)
    val changedUrls = changed.select($"url").as[String].collect().toSet
    // the 50 new urls must all be present
    (100L until 150L).foreach { i =>
      val u = snap2.filter($"url".contains(s"page$i.")).select($"url").as[String].collect()
      u.foreach(x => assert(changedUrls.contains(x), s"missing new url $x"))
    }
    // unchanged urls must be absent (identical bytes → same sha/size)
    assert(!changedUrls.contains(PagesGen.urlOf(1)), "unchanged url not skipped")
    assert(changed.count() < snap2.count())
  }

  test("changed-only: null current html reads as CHANGED (can't check => assume changed)") {
    val out = tempDir("graft_prevnull")
    val snap1 = Extract.latestPerUrl(PagesGen.pages(spark, 20L))
    Extract.run(spark, snap1, out, "prevnull_run")
    val prev = spark.read.parquet(s"$out/docs_clean")
    // re-capture of url 1 with a NULL payload (failed re-fetch): sha/size
    // are null on the current side — null-propagating compares would
    // silently classify it unchanged and keep the stale version
    val u1 = PagesGen.urlOf(1)
    val ts = new java.sql.Timestamp(1800000000000L)
    val cur = spark.createDataset(Seq(PageRow(u1, ts, null, null, "en")))
    val kept = Extract.changedOnly(cur, prev).select($"url").as[String].collect()
    assert(kept.toSeq == Seq(u1), "null-payload re-capture must be treated as changed")
  }

  test("recrawl with no changed page: empty summary, and the outDir stays usable") {
    val prevOut = tempDir("graft_nochange_prev")
    val snap = Extract.latestPerUrl(PagesGen.pages(spark, 40L))
    Extract.run(spark, snap, prevOut, "nochange_prev")
    val prev = spark.read.parquet(s"$prevOut/docs_clean")
    // every page unchanged → the changed-only delta is empty, the docs_clean
    // write leaves no file, and the read-back must not infer a schema
    val out = tempDir("graft_nochange")
    val s0 = Extract.run(spark, snap, out, "nochange_r1", prevSnapshot = Some(prev))
    assert(s0 == Extract.RunSummary(0, 0, Extract.DefaultBuckets))
    // a non-empty run into the same outDir afterwards still succeeds
    val s1 = Extract.run(spark, snap, out, "nochange_r2")
    assert(s1 == Extract.RunSummary(40, 0, Extract.DefaultBuckets))
    assert(spark.read.parquet(s"$out/docs_clean").count() == 40)
  }

  test("reused outDir, new runId: metrics/ledger/summary cover only THIS run's buckets") {
    val out = tempDir("graft_reuse")
    // run 1 fills many buckets
    val s1 = Extract.run(spark, Extract.latestPerUrl(PagesGen.pages(spark, 120L)),
      out, "reuse_r1")
    assert(s1.docs > 0)
    // run 2, DIFFERENT runId, same dir, a small disjoint slice
    val slice = Extract.latestPerUrl(PagesGen.pages(spark, 126L))
      .filter($"url".rlike("page12[0-5]\\."))
    val sliceBuckets = slice.select(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64($"url"),
          org.apache.spark.sql.functions.lit(Extract.DefaultBuckets)).cast("int"))
      .distinct().as[Int].collect().toSet
    val nSlice = slice.count()
    assert(nSlice > 0 && sliceBuckets.size < 60)
    val s2 = Extract.run(spark, slice, out, "reuse_r2")
    // summary counts run-2 docs only — not run 1's corpus
    assert(s2.docs == nSlice, s"summary ${s2.docs} != slice $nSlice")
    // ledger marks done ONLY the buckets run 2 actually processed
    val done2 = spark.read.parquet(s"$out/progress")
      .filter($"run_id" === "reuse_r2" && $"status" === "done")
      .select($"url_bucket").as[Int].collect().toSet
    assert(done2 == sliceBuckets, s"ledger $done2 vs $sliceBuckets")
    // metrics rows for run 2 exist only for its buckets; run 1 rows survive
    val m = spark.read.parquet(s"$out/metrics")
    assert(m.filter($"run_id" === "reuse_r2").select($"url_bucket")
      .as[Int].collect().toSet == sliceBuckets)
    assert(m.filter($"run_id" === "reuse_r1").count() > 0,
      "run 1's untouched metrics rows must survive run 2's dynamic overwrite")
  }

  test("resume: completed buckets are skipped; outputs stay identical") {
    val out = tempDir("graft_resume")
    val pages = PagesGen.pages(spark, N)
    Extract.run(spark, pages, out, "runA")
    val before = spark.read.parquet(s"$out/docs_clean")
      .select($"url", $"content_sha256").as[(String, String)].collect().toSet

    // simulate interrupt: mark half the buckets done for runB, then run runB
    val metrics = spark.read.parquet(s"$out/metrics")
    val half = metrics.select($"url_bucket").as[Int].collect().sorted.take(8)
    val fake = half.toSeq.toDF("url_bucket")
      .select(lit("runB").as("run_id"), $"url_bucket", lit("done").as("status"),
        lit(0L).as("docs"), lit(0L).as("completed_seq"))
    fake.write.mode("append").parquet(s"$out/progress")

    val s2 = Extract.run(spark, pages, out, "runB")
    // runB only processed the remaining buckets
    assert(s2.docs < N)
    // dynamic partition overwrite preserved the done buckets' output
    val after = spark.read.parquet(s"$out/docs_clean")
      .select($"url", $"content_sha256").as[(String, String)].collect().toSet
    assert(after == before)

    // metrics sidecar: done buckets' rows preserved (ADVICE r01 — a full
    // overwrite here used to wipe them); totals still cover every bucket
    val mAfter = spark.read.parquet(s"$out/metrics")
    assert(mAfter.agg(sum($"docs_parsed")).as[Long].head() == N)
    assert(mAfter.filter($"run_id" === "runA").count() == half.length)

    // idempotent rerun with everything done: metrics sidecar NOT wiped
    Extract.run(spark, pages, out, "runB")
    val mIdem = spark.read.parquet(s"$out/metrics")
    assert(mIdem.agg(sum($"docs_parsed")).as[Long].head() == N)
  }

  test("resume with a null-url row: the done set is read against the row's bucket 0") {
    // extractPage files a null url under bucket 0; SQL pmod(xxhash64(NULL), 16)
    // is pmod(42, 16) = 10. Either done set must leave docs_clean as a full run
    // wrote it: {0} skips the null row with its bucket, {10} re-extracts it.
    val ts = new java.sql.Timestamp(0L)
    val pages = PagesGen.pages(spark, 60L).union(spark.createDataset(Seq(
      PageRow(null, ts, PagesGen.htmlOf(1L, 7L).getBytes("UTF-8"), null, "en"))))
    for (done <- Seq(0, 10)) {
      val out = tempDir(s"graft_resume_null$done")
      Extract.run(spark, pages, out, "nullA")
      def byBucket() = spark.read.parquet(s"$out/docs_clean")
        .groupBy($"url_bucket").count().as[(Int, Long)].collect().toMap
      val before = byBucket()
      assert(before.contains(0) && before.contains(10))
      Seq(done).toDF("url_bucket")
        .select(lit("nullB").as("run_id"), $"url_bucket", lit("done").as("status"),
          lit(0L).as("docs"), lit(0L).as("completed_seq"))
        .write.mode("append").parquet(s"$out/progress")
      Extract.run(spark, pages, out, "nullB")
      assert(byBucket() == before, s"done set {$done}")
      assert(spark.read.parquet(s"$out/docs_clean")
        .filter($"url".isNull && $"url_bucket" === 0).count() == 1, s"done set {$done}")
    }
  }

  test("bucket-aligned input: exchange-free write path produces identical outputs") {
    val in = tempDir("graft_aligned_in") + "/pages"
    PagesGen.pages(spark, 80L)
      .withColumn("url_bucket", pmod(xxhash64($"url"), lit(16)).cast("int"))
      .repartition(16, $"url_bucket")
      .write.partitionBy("url_bucket").parquet(in)
    val aligned = spark.read.parquet(in)
      .select("url", "warc_ts", "html", "text", "lang").as[PageRow]

    val outA = tempDir("graft_aligned_a")
    val outB = tempDir("graft_aligned_b")
    Extract.run(spark, aligned, outA, "runAl", repartitionForWrite = false)
    Extract.run(spark, PagesGen.pages(spark, 80L), outB, "runDef")
    def snap(dir: String) = spark.read.parquet(s"$dir/docs_clean")
      .select($"url", $"content_sha256", $"url_bucket")
      .as[(String, String, Int)].collect().toSet
    assert(snap(outA) == snap(outB))
    // bucket dirs still correct under the shuffle-free write
    assert(spark.read.parquet(s"$outA/docs_clean")
      .filter(pmod(xxhash64($"url"), lit(16)).cast("int") =!= $"url_bucket")
      .count() == 0)
  }

  test("blocklist anti-join removes listed urls") {
    val out = tempDir("graft_bl")
    val bl = spark.createDataset(Seq(PagesGen.urlOf(3), PagesGen.urlOf(4)))
    val s = Extract.run(spark, PagesGen.pages(spark, 50L), out, "runBL",
      blocklist = Some(bl))
    val urls = spark.read.parquet(s"$out/docs_clean").select($"url").as[String].collect().toSet
    assert(!urls.contains(PagesGen.urlOf(3)) && !urls.contains(PagesGen.urlOf(4)))
  }

  test("parse failure isolation: poisoned row flagged, job survives") {
    val poisoned = Seq(
      PageRow("https://h/x.html", new java.sql.Timestamp(0L), null, null, "en"))
      .toDS()
    val res = Extract.extract(poisoned).collect()
    assert(res.length == 1 && res(0).doc.parse_failed)
    assert(res(0).doc.failure_reason != null)
    assert(res(0).doc.failure_class == "decode") // no payload: decode class
  }

  test("failure taxonomy: organically-reachable classes end to end") {
    val ts = new java.sql.Timestamp(0L)
    val rows = Seq(
      PageRow("https://h/p0.html", ts, null, null, "en"),       // -> decode
      PageRow(null, ts, PagesGen.htmlOf(1L, 7L).getBytes("UTF-8"),
        null, "en"),                                            // -> parse
      PageRow("https://h/ok.html", ts,
        PagesGen.htmlOf(2L, 9L).getBytes("UTF-8"), null, "en")) // -> healthy
      .toDS()
    val by = Extract.extract(rows).collect()
      .map(p => Option(p.doc.url).getOrElse("<null>") -> p.doc).toMap
    assert(by("https://h/p0.html").failure_class == "decode")
    assert(by("<null>").failure_class == "parse" && by("<null>").parse_failed)
    assert(by("https://h/ok.html").failure_class == null &&
      !by("https://h/ok.html").parse_failed)
    // the null-url row still lands in a valid bucket (no task-level NPE)
    assert(by("<null>").url_bucket == 0)
  }

  test("failure taxonomy: stage tags classify every class; innermost wins") {
    // pdf/xml_strict/unknown stages are probe-verified TOTAL today (the
    // parser never throws on garbage), so their tags are exercised at the
    // mechanism level: any throw inside a staged block must carry that
    // stage's class, nested tags must keep the innermost, and an untagged
    // throw must classify unknown — with the ORIGINAL exception preserved
    def boom(): Int = throw new IllegalStateException("boom")
    for (cls <- Seq("pdf", "xml_strict", "parse", "decode")) {
      val e = intercept[RuntimeException](Extract.staged(cls)(boom()))
      assert(Extract.classify(e) == cls)
      assert(e.getCause.isInstanceOf[IllegalStateException])
    }
    val nested = intercept[RuntimeException](
      Extract.staged("parse")(Extract.staged("pdf")(boom())))
    assert(Extract.classify(nested) == "pdf")
    assert(Extract.classify(new IllegalStateException("raw")) == "unknown")
  }
}
