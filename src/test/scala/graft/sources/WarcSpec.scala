package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{PagesGen, SparkTestBase, TempDirs}

/** Warc: record grammar (version line, headers, Content-Length payload,
  * CRLF CRLF), obs-fold + case-insensitive headers, failure isolation
  * with resync, multi-member gzip, the HTTP response envelope, and the
  * pages() projection agreeing byte-for-byte with PagesGen. */
class WarcSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestBase.spark

  private def rmrf(p: java.io.File): Unit = {
    if (p.isDirectory) p.listFiles().foreach(rmrf)
    p.delete()
  }

  test("synthetic roundtrip: counts, types, payload bytes") {
    val recs = Warc.parseRecords("f", Warc.syntheticWarcBytes(50))
    assert(recs.forall(_.parse_error == null))
    assert(recs.count(_.warc_type == "warcinfo") == 1)
    assert(recs.count(_.warc_type == "request") == 10)
    assert(recs.count(_.warc_type == "response") == 50)
    // offsets tile the stream exactly
    recs.sliding(2).foreach { case Seq(a, b) =>
      assert(a.offset + a.total_len == b.offset)
    }
    // every response body is the exact page bytes; status/mime parse
    recs.filter(_.warc_type == "response").zipWithIndex.foreach { case (r, i) =>
      val http = Warc.parseHttpResponse(r.payload)
      assert(http.error == null && http.status == 200)
      assert(java.util.Arrays.equals(http.body, PagesGen.pageOf(i.toLong).html),
        s"body mismatch at $i")
      assert(r.target_uri == PagesGen.pageOf(i.toLong).url)
    }
  }

  test("broken record is isolated and the scan resyncs") {
    val recs = Warc.parseRecords("f", Warc.syntheticWarcBytes(40, withBroken = true))
    val errs = recs.filter(_.parse_error != null)
    assert(errs.length == 1 && errs.head.parse_error.startsWith("bad Content-Length"))
    assert(recs.count(_.warc_type == "response") == 40) // none lost
    // the error row's span covers the garbage exactly (tiling holds)
    recs.sliding(2).foreach { case Seq(a, b) =>
      assert(a.offset + a.total_len == b.offset)
    }
  }

  test("gzip members: multi-member stream gunzips to identical records") {
    val plain = Warc.parseRecords("f", Warc.syntheticWarcBytes(20))
    val gz = Warc.syntheticWarcBytes(20, gzipMembers = true)
    assert((gz(0) & 0xff) == 0x1f && (gz(1) & 0xff) == 0x8b)
    val viaGz = Warc.parseRecords("f", Warc.gunzip(gz))
    assert(viaGz.map(r => (r.warc_type, r.target_uri, r.content_length)) ==
      plain.map(r => (r.warc_type, r.target_uri, r.content_length)))
  }

  test("header edge cases: obs-fold, case-insensitive names, CR in value") {
    val payload = "hi".getBytes("ISO-8859-1")
    val rec = ("WARC/1.1\r\nwarc-type: response\r\nWARC-TARGET-URI: http://e.com/a\r\n" +
      "X-Long: first\r\n  folded tail\r\nwarc-date: 2024-01-02T03:04:05Z\r\n" +
      s"content-length: ${payload.length}\r\n\r\nhi\r\n\r\n").getBytes("ISO-8859-1")
    val rs = Warc.parseRecords("f", rec)
    assert(rs.length == 1 && rs.head.parse_error == null)
    assert(rs.head.warc_type == "response")
    assert(rs.head.target_uri == "http://e.com/a")
    assert(new String(rs.head.payload, "ISO-8859-1") == "hi")
  }

  test("http envelope failures are rows, not exceptions") {
    assert(Warc.parseHttpResponse(Array.emptyByteArray).error == "no status line")
    assert(Warc.parseHttpResponse("not http\r\n\r\n".getBytes("ISO-8859-1"))
      .error.startsWith("bad status line"))
    val ok = Warc.parseHttpResponse(
      "HTTP/1.1 301 Moved Permanently\r\nLocation: /x\r\n\r\nbody".getBytes("ISO-8859-1"))
    assert(ok.status == 301 && ok.reason == "Moved Permanently" &&
      new String(ok.body, "ISO-8859-1") == "body")
  }

  test("charsetOf") {
    assert(Warc.charsetOf("text/html; charset=UTF-8") == "utf-8")
    assert(Warc.charsetOf("text/html; charset=\"ISO-8859-1\"") == "iso-8859-1")
    assert(Warc.charsetOf("text/html") == null)
    assert(Warc.charsetOf(null) == null)
  }

  test("adversarial mutations: the scanner never throws and always tiles") {
    val base = Warc.syntheticWarcBytes(12)
    var st = 0xBADC0DEL
    def next(): Long = { st = st * 6364136223846793005L + 1442695040888963407L; st }
    (0 until 300).foreach { trial =>
      val b = base.clone()
      // 1-4 mutations: flip a byte, zero a byte, or truncate
      val nMut = 1 + math.floorMod(next(), 4).toInt
      var len = b.length
      (0 until nMut).foreach { _ =>
        val kind = math.floorMod(next(), 3)
        val pos = math.floorMod(next(), len).toInt
        kind match {
          case 0 => b(pos) = (b(pos) ^ (next() & 0xff).toInt).toByte
          case 1 => b(pos) = 0
          case _ => len = math.max(1, pos)
        }
      }
      val bytes = java.util.Arrays.copyOf(b, len)
      val recs = Warc.parseRecords(s"t$trial", bytes) // must not throw
      // offsets tile the scanned region exactly, errors included
      var expect = 0L
      recs.foreach { r =>
        assert(r.offset == expect, s"trial=$trial rec=${r.rec_idx}")
        assert(r.total_len >= 0)
        expect = r.offset + r.total_len
      }
      assert(expect <= bytes.length, s"trial=$trial overran")
    }
  }

  test("WET roundtrip: writeWet -> wetPages is the identity on text") {
    import spark.implicits._
    val dir = s"/tmp/graft_wet_${System.nanoTime()}"
    try {
      val docs = (0 until 25).map { i =>
        val p = PagesGen.pageOf(i.toLong)
        // include a unicode-heavy and an empty text row
        val t = if (i == 3) "ünïcode — тёкст ≠ ascii" else if (i == 4) ""
                else graft.pipeline.Extract.extractPage(p, 16).doc.text
        (p.url, p.warc_ts, t)
      }
      Warc.writeWet(docs.toDF("url", "warc_ts", "text").repartition(3), dir)
      val files = new java.io.File(dir).listFiles().map(_.getName).sorted
      assert(files.nonEmpty && files.forall(_.matches("part-\\d{5}\\.warc\\.wet\\.gz")))
      val back = Warc.wetPages(
        spark.read.format("binaryFile").load(dir))
        .as[(String, java.sql.Timestamp, String)].collect()
        .map(r => (r._1, r._2.getTime, r._3)).toSet
      assert(back == docs.map(d => (d._1, d._2.getTime, d._3)).toSet)
      // deterministic sink: a second write emits byte-identical files
      val dir2 = dir + "_2"
      Warc.writeWet(docs.toDF("url", "warc_ts", "text").repartition(3), dir2)
      files.foreach { f =>
        val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, f))
        val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir2, f))
        assert(java.util.Arrays.equals(a, b), f)
      }
      rmrf(new java.io.File(dir2))
    } finally rmrf(new java.io.File(dir))
  }

  test("record-offset index: pruned re-read is drop-in identical to the full scan") {
    import spark.implicits._
    val files = Warc.syntheticWarcFrame(spark, 24, withBroken = true,
      gzipMembers = true)
    val dir = tempDir("graft-warcidx")
    Warc.writeRecordIndex(files, dir)
    val index = spark.read.parquet(dir)
    // prune to response records only — the re-extraction-of-a-subset shape
    val sub = index.filter($"warc_type" === "response")
    val pruned = Warc.recordsAt(files, sub).collect()
      .map(r => (r.rec_idx, r)).toMap
    val full = Warc.records(files).collect()
      .filter(_.warc_type == "response").map(r => (r.rec_idx, r)).toMap
    assert(pruned.keySet == full.keySet && pruned.nonEmpty)
    full.foreach { case (i, want) =>
      val got = pruned(i)
      assert(got.offset == want.offset && got.total_len == want.total_len, i)
      assert(got.target_uri == want.target_uri && got.warc_date == want.warc_date, i)
      assert(java.util.Arrays.equals(got.payload, want.payload), i)
      assert(got.parse_error == null, i)
    }
    // a stale index row (archive changed underneath) degrades per-row
    val stale = Seq(("synthetic.warc.gz", 9999, 999999999L, 64L))
      .toDF("file", "rec_idx", "offset", "total_len")
    val err = Warc.recordsAt(files, stale).collect()
    assert(err.length == 1 && err(0).parse_error == "index out of range")
    rmrf(new java.io.File(dir))
  }

  test("pages(): the projection feeds PageRow exactly (incl. gz path)") {
    import spark.implicits._
    val pages = Warc.pages(Warc.syntheticWarcFrame(spark, 30,
      withBroken = true, gzipMembers = true)).collect().sortBy(_.url)
    assert(pages.length == 30)
    val want = (0 until 30).map(i => PagesGen.pageOf(i.toLong)).sortBy(_.url)
    pages.zip(want).foreach { case (got, w) =>
      assert(got.url == w.url)
      assert(got.warc_ts == w.warc_ts)
      assert(java.util.Arrays.equals(got.html, w.html), got.url)
    }
  }
}
