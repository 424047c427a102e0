package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import java.sql.Timestamp

/**
 * Deterministic synthetic pages-table generator (FIXTURES.md §1): counter-
 * based PRNG (seed 42, splittable — row content depends only on the row
 * index), Zipfian host pool (exercises salted-repartition skew handling),
 * no wall-clock, no network, no external data. Scales from ~1k rows (unit)
 * to millions (bench) with identical per-index content.
 */
object PagesGen {

  val Seed = 42L
  val NumHosts = 997
  val ZipfExponent = 1.1
  /** Base capture time: 2024-10-08T00:00:00Z (reference snapshot date). */
  val BaseTs = 1728345600000L

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** u in [0,1) from a hash draw. */
  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** Zipf CDF over NumHosts ranks, precomputed once per JVM. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(NumHosts)(r => 1.0 / math.pow(r + 1.0, ZipfExponent))
    val total = w.sum
    val cdf = new Array[Double](NumHosts)
    var acc = 0.0
    var i = 0
    while (i < NumHosts) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf
  }

  private def zipfHost(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    val idx = if (i >= 0) i else -i - 1
    math.min(idx, NumHosts - 1)
  }

  private val words = Array("spark", "catalyst", "shuffle", "partition",
    "the", "and", "with", "for", "data", "query", "plan", "join", "scan",
    "broadcast", "executor", "driver", "stage", "task", "codegen", "parquet",
    "table", "column", "filter", "predicate", "pushdown", "bucket", "skew",
    "of", "is", "that", "in", "it", "to", "document", "content", "page")

  private def sentence(h: Long, len: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < len) {
      if (i > 0) sb += ' '
      sb ++= words((mix64(h + i) >>> 7).toInt.abs % words.length)
      i += 1
    }
    sb += '.'
    sb.toString
  }

  def hostOf(i: Long): String = {
    val rank = zipfHost(unit(mix64(Seed ^ i)))
    s"host$rank.example.com"
  }

  def urlOf(i: Long): String = {
    val h = hostOf(i)
    s"https://$h/docs/page$i.html"
  }

  /** Raw page bytes for row index i (kind chosen deterministically). */
  def pageOf(i: Long): PageRow = {
    val h0 = mix64(Seed ^ (i * 2654435761L))
    val kindDraw = unit(h0)
    val url = urlOf(i)
    val ts = new Timestamp(BaseTs + (i % 86400L) * 1000L)
    val langs = Array("en", "en", "en", "de", "fr", "es", "pt")
    val lang = langs((mix64(h0 + 1) >>> 9).toInt.abs % 7)
    if (kindDraw < 0.03) { // plain text
      val body = (1 to 4 + (mix64(h0 + 2).toInt.abs % 6))
        .map(k => sentence(h0 + 10 * k, 8 + (k % 7))).mkString("\n")
      PageRow(url.stripSuffix(".html") + ".txt", ts, body.getBytes("UTF-8"), null, lang)
    } else if (kindDraw < 0.06) { // xml
      val items = (1 to 3 + (mix64(h0 + 3).toInt.abs % 5)).map { k =>
        s"  <item id=\"$k\"><name>${sentence(h0 + 20 * k, 3)}</name></item>"
      }.mkString("\n")
      val body = s"<?xml version=\"1.0\"?>\n<catalog>\n$items\n</catalog>"
      PageRow(url.stripSuffix(".html") + ".xml", ts, body.getBytes("UTF-8"), null, lang)
    } else if (kindDraw < 0.09) { // pdf (subset our PdfText covers)
      val lines = (1 to 3 + (mix64(h0 + 4).toInt.abs % 4))
        .map(k => s"(${sentence(h0 + 30 * k, 6)}) Tj 0 -14 Td").mkString(" ")
      val content = s"BT /F1 12 Tf $lines ET"
      val body = s"%PDF-1.4\n1 0 obj << /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n%%EOF"
      PageRow(url.stripSuffix(".html") + ".pdf", ts, body.getBytes("ISO-8859-1"), null, lang)
    } else { // html
      PageRow(url, ts, htmlOf(i, h0).getBytes("UTF-8"), null, lang)
    }
  }

  /** Realistic-ish HTML exercising the cleaning branches. */
  def htmlOf(i: Long, h0: Long): String = {
    val host = hostOf(i)
    val nPara = 3 + (mix64(h0 + 5).toInt.abs % 38)
    val sb = new StringBuilder(4096)
    sb ++= "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">\n"
    sb ++= s"<title>Doc $i &mdash; $host</title>\n"
    sb ++= s"""<meta name="description" content="${sentence(h0 + 6, 6)}">\n"""
    sb ++= s"""<meta name="author" content="Author ${mix64(h0 + 7).toInt.abs % 50}">\n"""
    sb ++= s"""<meta name="modified" content="2024-0${1 + (i % 9)}-1${i % 9}">\n"""
    sb ++= s"""<meta property="og:title" content="Doc $i">\n"""
    if (i % 7 == 0) sb ++= s"""<link rel="canonical" href="https://$host/docs/page$i.html">\n"""
    sb ++= s"""<link rel="stylesheet" href="/assets/site.css">\n<script src="/assets/app.js"></script>\n"""
    sb ++= "<style>.sidebar { width: 200px }</style>\n</head>\n<body>\n"
    sb ++= s"""<nav><a href="/docs/">Home</a> <a href="page${i - 1}.html">Previous</a> <a href="page${i + 1}.html">Next</a> <a href="page${(i + 2)}.html">${(i % 9) + 1}</a></nav>\n"""
    sb ++= s"<!-- generated $i -->\n"
    if (i % 5 == 0) sb ++= """<div style="display: none">tracking pixel text</div>""" + "\n"
    sb ++= s"<h1>${sentence(h0 + 8, 4)} &amp; more</h1>\n"
    var k = 0
    while (k < nPara) {
      val hp = h0 + 100 + k
      sb ++= s"<p>${sentence(hp, 10 + (mix64(hp).toInt.abs % 20))}"
      if (k % 4 == 1) sb ++= s""" <a href="page${mix64(hp + 1).toInt.abs % 1000}.html?utm_source=gen&amp;ref=${k}">${words(k % words.length)}</a>"""
      if (k % 6 == 2) sb ++= s" &nbsp;&copy; ${words((k + 3) % words.length)} &hellip;"
      sb ++= "</p>\n"
      if (k % 9 == 3) sb ++= s"<pre><code>val x$k = ${mix64(hp).toInt.abs % 100}</code></pre>\n"
      if (k % 11 == 4) sb ++= s"<p>Math: $$x_$k = ${k * 2}$$</p>\n"
      if (k % 13 == 5) sb ++= "<div><span></span></div>\n"
      k += 1
    }
    if (i % 17 == 0) sb ++= "<svg width=\"10\"><circle r=\"3\"/></svg>\n"
    sb ++= s"""<script type="application/ld+json">{"@type":"Article","id":$i}</script>\n"""
    sb ++= "</body></html>\n"
    sb.toString
  }

  /** The generated dataset: `n` base pages, plus a second snapshot row
    * (warc_ts + 1 day) for every 10th page — half changed, half identical —
    * for the change-detection join (F16/F17). */
  def pages(spark: SparkSession, n: Long): Dataset[PageRow] = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { it =>
      it.flatMap { i =>
        val base = pageOf(i)
        if (i % 10 == 0) {
          val ts2 = new Timestamp(base.warc_ts.getTime + 86400000L)
          val v2 =
            if (i % 20 == 0) base.copy(warc_ts = ts2) // unchanged re-capture
            else {
              val mutated = new String(base.html, "UTF-8")
                .replaceFirst("<h1>", "<h1>UPDATED ")
              base.copy(warc_ts = ts2, html = mutated.getBytes("UTF-8"))
            }
          Iterator(base, v2)
        } else Iterator(base)
      }
    }
  }

  /** Adversarial corpus for the failure-taxonomy rollup (q_failure_classes):
    * the normal corpus plus deterministic rows per organically-reachable
    * failure class — null payloads (class `decode`: the batch successor of
    * the reference's NetworkError family — the fetch already failed
    * upstream) and null urls with real HTML (class `parse`: the url-join
    * layer throws inside the parse stage). The probe-verified total stages
    * (pdf/xml/plain-text) contribute their SUCCESS rows, pinning that the
    * classifier never misfires on healthy content. */
  def poisonedPages(spark: SparkSession, n: Long,
                    nullPayloads: Int = 7, nullUrls: Int = 5): Dataset[PageRow] = {
    import spark.implicits._
    val bad =
      (0 until nullPayloads).map(i => PageRow(
        s"https://pois.example.com/null-payload-$i",
        new Timestamp(1700000000000L + i), null, null, "en")) ++
      (0 until nullUrls).map(i => PageRow(null,
        new Timestamp(1700000100000L + i),
        htmlOf(2000L + i, mix64(2000L + i)).getBytes("UTF-8"), null, "en"))
    pages(spark, n).union(spark.createDataset(bad))
  }
}
