package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{PagesGen, SparkTestBase, TempDirs}

class StreamingSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("streaming extraction drains a backlog with AvailableNow, exactly once") {
    val in = tempDir("graft_stream_in")
    val out = tempDir("graft_stream_out")
    val ckpt = tempDir("graft_stream_ckpt")
    PagesGen.pages(spark, 60L).repartition(4).write.mode("append").parquet(in)

    val q1 = StreamingExtract.extractStream(spark, in, out, ckpt)
    q1.awaitTermination(120000)
    val n1 = spark.read.parquet(s"$out/docs_clean_stream").count()
    assert(n1 > 60) // includes snapshot-pair rows (no dedup in stream path)

    // new files arrive; restart drains ONLY them (checkpointed offsets)
    PagesGen.pages(spark, 20L).select($"url", $"warc_ts", $"html", $"text", $"lang")
      .withColumn("url", concat($"url", lit("?v=2")))
      .repartition(2).write.mode("append").parquet(in)
    val q2 = StreamingExtract.extractStream(spark, in, out, ckpt)
    q2.awaitTermination(120000)
    val n2 = spark.read.parquet(s"$out/docs_clean_stream").count()
    assert(n2 > n1)
    val dups = spark.read.parquet(s"$out/docs_clean_stream")
      .groupBy($"url", $"warc_ts").count().filter($"count" > 1).count()
    assert(dups == 0, "exactly-once violated")
  }

  test("streaming WARC ingestion: new archives drain exactly once") {
    val in = tempDir("graft_warc_in")
    val out = tempDir("graft_warc_out")
    val ckpt = tempDir("graft_warc_ckpt")
    // one archive with pages 0..19
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.warc"),
      graft.sources.Warc.syntheticWarcBytes(20))
    val q1 = StreamingExtract.extractWarcStream(spark, in, out, ckpt)
    q1.awaitTermination(120000)
    val n1 = spark.read.parquet(s"$out/docs_clean_stream").count()
    assert(n1 == 20)
    // a second, whole-file-gzipped archive arrives; restart drains ONLY it
    val bo = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bo)
    gz.write(graft.sources.Warc.syntheticWarcBytes(30)); gz.close()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.warc.gz"),
      bo.toByteArray)
    val q2 = StreamingExtract.extractWarcStream(spark, in, out, ckpt)
    q2.awaitTermination(120000)
    val rows = spark.read.parquet(s"$out/docs_clean_stream")
    assert(rows.count() == 50) // 20 + 30 (b.warc.gz holds pages 0..29)
    // byte-identity carries over from the batch e2e: spot-check one url
    val direct = graft.pipeline.Extract.extractPage(PagesGen.pageOf(7L), 16).doc
    val streamed = rows.filter($"url" === direct.url)
      .select($"text").as[String].collect()
    assert(streamed.nonEmpty && streamed.forall(_ == direct.text))
  }

  test("watermark drops late events in a REAL stream (Append mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def page(host: String, epochH: Int): graft.pipeline.PageRow =
      graft.pipeline.PageRow(s"https://$host/p$epochH",
        new java.sql.Timestamp(epochH * 3600L * 1000L),
        "<html><body>x</body></html>".getBytes("UTF-8"), null, null)
    val in = MemoryStream[graft.pipeline.PageRow]
    val q = StreamingExtract.hostActivity(in.toDS(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("wm_host_activity")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // batch 1: events at hours 1 and 10 -> watermark advances to 10-2=8
      in.addData(page("a.com", 1), page("a.com", 1), page("b.com", 10))
      q.processAllAvailable()
      // batch 2: hour-1 event is LATE (< watermark 8h) and must be dropped;
      // hour 9 is within the watermark and must be kept
      in.addData(page("a.com", 1), page("a.com", 9))
      q.processAllAvailable()
      // batch 3: push the watermark far ahead so all previous windows close
      in.addData(page("c.com", 30))
      q.processAllAvailable()
      val rows = spark.table("wm_host_activity")
        .select(col("window.start").cast("long").as("ws"), col("host"), col("docs"))
        .as[(Long, String, Long)].collect().toSet
      def h(e: Int) = e * 3600L
      // the late hour-1 re-send never increments a.com's first window
      assert(rows.contains((h(1), "a.com", 2L)), rows)
      assert(rows.contains((h(9), "a.com", 1L)), rows)
      assert(rows.contains((h(10), "b.com", 1L)), rows)
      assert(!rows.exists { case (ws, host, n) =>
        ws == h(1) && host == "a.com" && n != 2L }, rows)
    } finally q.stop()
  }

  test("watermarked host-activity windows aggregate event time (batch check)") {
    // semantics checked on the batch equivalent of the same plan
    val pages = PagesGen.pages(spark, 100L)
    val agg = pages
      .withColumn("host", expr("parse_url(url, 'HOST')"))
      .groupBy(window($"warc_ts", "1 hour"), $"host")
      .agg(count(lit(1)).as("docs"))
    assert(agg.count() > 0)
    assert(agg.agg(sum($"docs")).as[Long].head() == pages.count())
  }

  test("streaming training-prep: cross-batch dedup state, gates, exactly-once") {
    val in = tempDir("graft_tpin")
    val outDir = tempDir("graft_tpout")
    val ckpt = tempDir("graft_tpckpt")
    val goodText = "the quick brown fox jumps over the lazy dog again and again ok"

    // batch 1: keeper (id 1), short doc, wrong lang
    Seq((1L, "en", goodText), (2L, "en", "too short"), (3L, "ja", goodText + " x"))
      .toDF("doc_id", "lang", "text").coalesce(1).write.mode("append").parquet(in)
    def drain(): Unit = {
      val schema = "doc_id LONG, lang STRING, text STRING"
      val q = StreamingExtract.prepareStream(
          spark.readStream.schema(schema).parquet(in))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain()
    val r1 = spark.read.parquet(outDir)
    assert(r1.count() == 3)
    assert(r1.filter($"doc_id" === 1 && $"kept").count() == 1)
    assert(r1.filter($"doc_id" === 2).select($"drop_reason").as[String].head() == "too_short")
    assert(r1.filter($"doc_id" === 3).select($"drop_reason").as[String].head() == "lang")

    // batch 2: same text as id 1 arrives later (even with a LOWER id) →
    // duplicate via cross-batch state; a fresh text is kept; empty/null
    // text and null lang must not crash the query and must gate exactly
    // like the batch plan (null predicate => gate skipped => kept)
    Seq((0L, "en", goodText), (4L, "en", goodText), (5L, "en", goodText + " fresh"),
        (6L, "en", ""), (7L, null, goodText + " nulllang"), (8L, "en", null))
      .toDF("doc_id", "lang", "text").coalesce(1).write.mode("append").parquet(in)
    drain()
    val r2 = spark.read.parquet(outDir)
    assert(r2.count() == 9)
    assert(r2.filter($"doc_id" === 0).select($"drop_reason").as[String].head() == "duplicate")
    assert(r2.filter($"doc_id" === 4).select($"drop_reason").as[String].head() == "duplicate")
    assert(r2.filter($"doc_id" === 5 && $"kept").count() == 1)
    // empty text: n_tokens = 1 (Spark split("") = [""]) → too_short, null
    // alpha_ratio survives the typed pipeline
    assert(r2.filter($"doc_id" === 6).select($"drop_reason").as[String].head() == "too_short")
    assert(r2.filter($"doc_id" === 6).select($"alpha_ratio".isNull).as[Boolean].head())
    // null lang: the lang gate's predicate is null in the batch plan →
    // kept; null TEXT is explicitly gated (no content to train on)
    assert(r2.filter($"doc_id" === 7 && $"kept").count() == 1)
    assert(r2.filter($"doc_id" === 8).select($"drop_reason").as[String].head()
      == "null_text")
    // the streaming verdicts equal the batch operator's on the same rows
    val batchEquiv = graft.ops.TrainingData.prepare(
        spark.read.parquet(in))
      .select($"doc_id", $"kept", $"drop_reason")
      .as[(Long, Boolean, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    Seq(2L, 3L, 5L, 6L, 7L, 8L).foreach { id =>
      val got = r2.filter($"doc_id" === id).select($"kept", $"drop_reason")
        .as[(Boolean, String)].head()
      assert(got == batchEquiv(id), s"doc $id: stream $got vs batch ${batchEquiv(id)}")
    }
    // exactly-once: no doc_id appears twice
    assert(r2.groupBy($"doc_id").count().filter($"count" > 1).count() == 0)
  }

  test("stateful dedup stream emits only new/changed snapshots") {
    val in = tempDir("graft_sdin")
    val outDir = tempDir("graft_sdout")
    val ckpt = tempDir("graft_sdckpt")
    PagesGen.pages(spark, 50L).repartition(2).write.mode("append").parquet(in)

    val changed = StreamingExtract.dedupStream(StreamingExtract.readPages(spark, in))
    val q = changed.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val res = spark.read.parquet(outDir)
    val total = res.count()
    val news = res.filter($"change" === "new").count()
    val changes = res.filter($"change" === "changed").count()
    assert(news == 50) // one "new" per distinct url
    // i%10==0 && i%20!=0 pages have a changed second snapshot: i in {10,30} for n=50
    assert(changes == 2, s"changes=$changes total=$total")
  }
}
