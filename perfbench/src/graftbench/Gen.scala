package graftbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.pipeline.PageRow

/**
 * The benchmark's own seeded crawl generator. Every page is a pure
 * function of (seed, page index, version), so a seed fixes the whole input
 * and any page can be rebuilt on the driver for checks.
 *
 * Traffic dimensions (README.md gives the sources and the choices):
 *  - hosts: 400, Zipf(1.1) page share per host;
 *  - vocabulary: 4,096 synthetic words, Zipf(0.9) word frequency (the
 *    commonest word is 7 % of the text, as "the" is in English);
 *  - page body: log-normal word count, median 300, clamped to 60..3,000;
 *  - HTML size: log-normal, median 30 KB, clamped to 4..300 KB; the bytes
 *    beyond the body are per-site template markup (class lists, icons);
 *  - links per page: log-normal, median 60, clamped to 0..400, 88 % on
 *    the page's own host; plus nav, asset and pagination links;
 *  - kind mix: html 96 %, pdf 2 % (half FlateDecode), xml 1 %, text 1 %;
 *  - languages: 90 % in the training set's list, 10 % outside it;
 *  - recaptures: 10 % of urls have a second capture a day later, half of
 *    them byte-identical and half changed;
 *  - planted copies, per block of 100 pages: one exact mirror on another
 *    host and two near-duplicates (two words edited) on the same host;
 *  - poison: null payloads (failure class `decode`) and null urls
 *    (failure class `parse`).
 */
object Gen {

  val NumHosts = 400
  val VocabSize = 4096
  val Block = 100
  /** First capture times lie in [BaseTs, BaseTs + 12 h); a recapture is a
    * day later, so `warc_ts >= RecaptureTs` marks exactly the recaptures. */
  val BaseTs = 1728345600000L
  val Day = 86400000L
  val RecaptureTs = BaseTs + Day
  val Langs = Seq("en", "de", "fr", "es", "pt")
  val NumQueries = 8

  final val Html = 0
  final val Pdf = 1
  final val Xml = 2
  final val Text = 3
  val KindNames = Array("html", "pdf", "xml", "text")
  private val Exts = Array("html", "pdf", "xml", "txt")
  private val Sections = Array("news", "docs", "blog", "wiki", "shop")

  // ---- counter-based randomness ----

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(s0: Long) {
    private var s = s0
    def long(): Long = { s += 0x9e3779b97f4a7c15L; mix64(s) }
    def unit(): Double = (long() >>> 11).toDouble / (1L << 53).toDouble
    def int(n: Int): Int = ((long() >>> 1) % n).toInt
    def gauss(): Double = {
      val u1 = math.max(unit(), 1e-12)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * unit())
    }
  }

  def rng(seed: Long, i: Long, salt: Long): Rng =
    new Rng(mix64(mix64(seed * 0x632be59bd9b4e019L + salt) ^ i))

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private lazy val hostCdf = zipfCdf(NumHosts, 1.1)
  private lazy val wordCdf = zipfCdf(VocabSize, 0.9)

  /** Fixed vocabulary: distinct 2–4 syllable words, the same for every seed. */
  lazy val vocab: Array[String] = {
    val cons = "bcdfghjklmnprstvwz"
    val vows = "aeiou"
    val r = new Rng(7L)
    val seen = new java.util.LinkedHashSet[String]
    while (seen.size < VocabSize) {
      val n = 2 + r.int(3)
      val sb = new StringBuilder
      (0 until n).foreach { _ => sb += cons(r.int(cons.length)); sb += vows(r.int(vows.length)) }
      if (r.int(3) == 0) sb += cons(r.int(cons.length))
      seen.add(sb.toString)
    }
    seen.toArray(new Array[String](0))
  }

  def word(r: Rng): String = vocab(draw(wordCdf, r.unit()))

  def hostName(h: Int): String = {
    val tlds = Array("com", "org", "net", "io", "de", "fr")
    s"www.site$h.example.${tlds(h % tlds.length)}"
  }

  /** Rare term planted in query target `q` (never a vocabulary word). */
  def queryTerm(q: Int): String = s"xqz${"qxj".take(1 + q % 3)}${('a' + q).toChar}"

  // ---- per-page plan ----

  /** dup: 0 none, 1 exact mirror of `source`, 2 near-duplicate of `source`.
    * recapture: 0 none, 1 identical second capture, 2 changed second capture. */
  final case class Plan(i: Long, kind: Int, host: Int, lang: String, words: Int,
                        links: Int, htmlBytes: Int, recapture: Int, dup: Int,
                        source: Long, query: Int)

  def plan(seed: Long, i: Long): Plan = {
    val r = rng(seed, i, 1)
    val slot = (i % Block).toInt
    val blockNo = i / Block
    val host = draw(hostCdf, r.unit())
    val u = r.unit()
    val kind0 = if (u < 0.96) Html else if (u < 0.98) Pdf else if (u < 0.99) Xml else Text
    val ul = r.unit()
    val lang0 =
      if (ul < 0.55) "en" else if (ul < 0.65) "de" else if (ul < 0.75) "fr"
      else if (ul < 0.83) "es" else if (ul < 0.90) "pt" else if (ul < 0.95) "ja" else "ru"
    val words = math.max(60, math.min(3000, math.round(300 * math.exp(0.7 * r.gauss())).toInt))
    val links = math.max(0, math.min(400, math.round(60 * math.exp(0.6 * r.gauss())).toInt))
    val htmlBytes = math.max(4000, math.min(300000, math.round(30000 * math.exp(0.9 * r.gauss())).toInt))
    val ur = r.unit()
    val recap0 = if (ur < 0.05) 1 else if (ur < 0.10) 2 else 0
    val query = if (slot == 7 && blockNo < NumQueries) blockNo.toInt else -1
    slot match {
      case 0 | 2 | 4 => Plan(i, Html, host, lang0, words, links, htmlBytes, 0, 0, -1, -1)
      case 1 | 3 | 5 =>
        val src = plan(seed, i - 1)
        if (slot == 1) // mirror: same bytes, another host
          src.copy(i = i, host = (src.host + 1) % NumHosts, recapture = 0, dup = 1, source = i - 1)
        else src.copy(i = i, recapture = 0, dup = 2, source = i - 1)
      case _ if query >= 0 => Plan(i, Html, host, "en", words, links, htmlBytes, 0, 0, -1, query)
      case _ => Plan(i, kind0, host, lang0, words, links, htmlBytes, recap0, 0, -1, -1)
    }
  }

  def urlOf(p: Plan): String = {
    val ext = Exts(p.kind)
    val section = Sections((p.i % 5).toInt)
    s"https://${hostName(p.host)}/$section/${vocab((p.i % VocabSize).toInt)}-${p.i}.$ext"
  }

  def baseTs(i: Long): Timestamp = new Timestamp(BaseTs + (i % 43200L) * 1000L)

  // ---- content ----

  /** Body words of page `i`; `edit` > 0 replaces that many word positions
    * (chosen by `editSalt`) with other vocabulary words. */
  def bodyWords(seed: Long, p: Plan, edits: Int, editSalt: Long): Array[String] = {
    val r = rng(seed, p.i, 2)
    val ws = Array.fill(p.words)(word(r))
    if (p.query >= 0) {
      val t = queryTerm(p.query)
      Seq(5, 17, 29).foreach(k => ws(k) = t)
    }
    if (edits > 0) { // distinct positions, each given a different word
      val e = rng(seed, p.i, editSalt)
      val used = scala.collection.mutable.HashSet.empty[Int]
      while (used.size < math.min(edits, ws.length)) {
        val k = e.int(ws.length)
        if (used.add(k)) {
          var nw = word(e)
          while (nw == ws(k)) nw = word(e)
          ws(k) = nw
        }
      }
    }
    ws
  }

  private def linkTarget(seed: Long, p: Plan, r: Rng, n: Long): String = {
    // popular pages draw more links: index skewed towards 0
    val t = plan(seed, math.min(n - 1, (n * math.pow(r.unit(), 3)).toLong))
    if (r.unit() < 0.88) { // same host, host-relative path
      val full = urlOf(t.copy(host = p.host))
      full.substring(full.indexOf('/', 8))
    } else urlOf(t) + (if (r.int(10) == 0) s"?ref=${word(r)}&utm_source=feed" else "")
  }

  /** A site's template: its icon paths and utility class lists, the same
    * on every page of the host. */
  private final class Template(seed: Long, host: Int) {
    private val r = rng(seed, host, 21)
    private val utils = Array("flex", "grid", "items-center", "justify-between", "gap-2", "gap-4",
      "px-3", "py-1", "mt-2", "mb-4", "text-sm", "text-gray-600", "rounded-md", "shadow-sm",
      "hover:underline", "md:block", "lg:w-1/3", "hidden", "relative", "z-10")
    val classes: Array[String] = Array.fill(8) {
      (Seq.fill(4 + r.int(8))(utils(r.int(utils.length))) :+ s"s$host-c${r.int(100)}").mkString(" ")
    }
    val icons: Array[String] = Array.fill(12) {
      val sb = new StringBuilder("M")
      (0 until 12 + r.int(30)).foreach { k =>
        if (k > 0) sb += "LCQ" (r.int(3))
        sb ++= f"${r.unit() * 24}%.2f ${r.unit() * 24}%.2f"
        if (k % 3 == 2) sb ++= f" ${r.unit() * 24}%.2f ${r.unit() * 24}%.2f"
      }
      (sb += 'Z').toString
    }
    /** Decorative blocks (no text, no links) of at least `bytes` bytes. */
    def blocks(sb: StringBuilder, bytes: Int, pr: Rng): Unit = {
      val end = sb.length + bytes
      var k = 0
      while (sb.length < end) {
        sb ++= "<div class=\"" ++= classes(pr.int(classes.length)) ++= "\" data-track=\"" ++=
          host.toString += '-' ++= k.toString ++= "\"><svg class=\"icon\" viewBox=\"0 0 24 24\" " ++=
          "width=\"20\" height=\"20\" aria-hidden=\"true\"><path d=\"" ++=
          icons(pr.int(icons.length)) ++= "\"/></svg></div>\n"
        k += 1
      }
    }
  }

  private val templates = new java.util.concurrent.ConcurrentHashMap[(Long, Int), Template]

  def html(seed: Long, p: Plan, ws: Array[String], n: Long): String = {
    val r = rng(seed, p.i, 3)
    val site = hostName(p.host)
    val head = new StringBuilder(2048)
    def w(k: Int) = ws(k % ws.length)
    val title = (0 until 5).map(w).mkString(" ")
    head ++= "<!DOCTYPE html>\n<html lang=\"" ++= p.lang ++= "\"><head><meta charset=\"utf-8\">\n"
    head ++= s"<title>${title.capitalize} | $site</title>\n"
    head ++= s"""<meta name="description" content="${(5 until 17).map(w).mkString(" ")}">\n"""
    head ++= s"""<meta name="keywords" content="${w(3)}, ${w(8)}, ${w(13)}">\n"""
    head ++= s"""<meta name="author" content="${w(2).capitalize} ${w(9).capitalize}">\n"""
    head ++= f"""<meta name="date" content="2024-${1 + r.int(12)}%02d-${1 + r.int(28)}%02d">\n"""
    head ++= s"""<meta property="og:title" content="$title"><meta property="og:type" content="article">\n"""
    head ++= s"""<link rel="canonical" href="https://$site/c/${p.i}">\n"""
    head ++= """<link rel="stylesheet" href="/static/site.css"><script src="/static/app.js"></script>""" + "\n"
    // boilerplate is per site: structured data on a third of the sites, a
    // site-specific style sheet
    if (p.host % 3 == 0)
      head ++= s"""<script type="application/ld+json">{"@context":"https://schema.org","@type":"Article","headline":"$title"}</script>\n"""
    head ++= s"<style>.s${p.host} { margin: ${p.host % 17}px }</style>\n</head>\n<body>\n"
    head ++= """<header><nav><a href="/">Home</a> <a href="/about.html">About</a> <a href="/contact.html">Contact</a></nav></header>""" + "\n"
    val sb = new StringBuilder(ws.length * 9 + p.links * 80 + 1024)
    sb ++= s"""<main><article id="main">\n<h1>${title.capitalize}</h1>\n"""
    // body: paragraphs of 20..80 words; inline links spread over the text
    var k = 0
    var par = 0
    var linksLeft = p.links
    while (k < ws.length) {
      val len = math.min(ws.length - k, 20 + r.int(61))
      par += 1
      if (par % 5 == 0) sb ++= s"""<h2 id="s$par">${ws(k).capitalize} ${w(k + 1)}</h2>\n"""
      val tag = if (par % 7 == 3) "li" else "p"
      if (tag == "li") sb ++= "<ul>"
      sb ++= "<" ++= tag ++= ">"
      var j = 0
      while (j < len) {
        if (j > 0) sb += ' '
        val word = ws(k + j)
        if (linksLeft > 0 && j > 0 && j % 9 == 4) {
          sb ++= "<a href=\"" ++= linkTarget(seed, p, r, n) ++= "\">" ++= word ++= "</a>"
          linksLeft -= 1
        } else sb ++= (if (j == 0) word.capitalize else word)
        if (j % 13 == 12) sb ++= (if (j % 2 == 0) "," else ".")
        j += 1
      }
      sb ++= ".</" ++= tag ++= ">"
      if (tag == "li") sb ++= "</ul>"
      sb += '\n'
      if (par % 6 == 2) sb ++= s"<pre><code>let ${ws(k)} = ${r.int(1000)};</code></pre>\n"
      if (par % 8 == 5) sb ++= s"""<p>${ws(k).capitalize} &amp; ${w(k + 2)} &mdash; <img src="/img/${p.i}-$par.png" alt="${w(k + 3)}"></p>\n"""
      if (par % 9 == 4) sb ++= s"""<div class="ad" style="display: none">sponsored by ${word(r)}</div>""" + "\n"
      k += len
    }
    sb ++= "</article></main>\n<aside class=\"sidebar\"><ul>"
    while (linksLeft > 0) {
      sb ++= "<li><a href=\"" ++= linkTarget(seed, p, r, n) ++= "\">" ++= word(r) ++= "</a></li>\n"
      linksLeft -= 1
    }
    sb ++= "</ul></aside>\n"
    val foot = s"""<footer><p>&copy; 2024 $site</p> <a rel="next" href="?page=2">Next</a> <a href="#main">Top</a></footer>\n""" +
      s"<!-- c${p.i} -->\n</body></html>\n"
    // the site's template markup brings the page to its planned size,
    // split between the top of the page and the bottom
    val pad = math.max(0, p.htmlBytes - head.length - sb.length - foot.length)
    val tpl = templates.computeIfAbsent((seed, p.host), _ => new Template(seed, p.host))
    val out = new StringBuilder(head.length + sb.length + foot.length + pad + 1024)
    out ++= head
    tpl.blocks(out, pad / 2, r)
    out ++= sb
    tpl.blocks(out, pad - pad / 2, r)
    (out ++= foot).toString
  }

  def pdf(seed: Long, p: Plan, ws: Array[String]): Array[Byte] = {
    val lines = ws.grouped(12).map(l => s"(${l.mkString(" ")}) Tj 0 -14 Td").mkString("\n")
    val content = s"BT /F1 12 Tf 72 720 Td\n$lines\nET"
    val raw = content.getBytes(ISO_8859_1)
    val (dict, data) =
      if (p.i % 2 == 0) {
        val d = new java.util.zip.Deflater()
        d.setInput(raw); d.finish()
        val buf = new Array[Byte](raw.length + 64)
        val len = d.deflate(buf); d.end()
        (s"<< /Length $len /Filter /FlateDecode >>", java.util.Arrays.copyOf(buf, len))
      } else (s"<< /Length ${raw.length} >>", raw)
    val out = new java.io.ByteArrayOutputStream(data.length + 256)
    out.write(s"%PDF-1.4\n1 0 obj $dict\nstream\n".getBytes(ISO_8859_1))
    out.write(data)
    out.write("\nendstream\nendobj\ntrailer << /Root 1 0 R >>\n%%EOF\n".getBytes(ISO_8859_1))
    out.toByteArray
  }

  def xml(p: Plan, ws: Array[String]): String = {
    val entries = ws.grouped(40).zipWithIndex.map { case (g, k) =>
      s"""  <entry id="$k"><title>${g.take(4).mkString(" ")}</title><summary>${g.drop(4).mkString(" ")}</summary><link href="https://${hostName(p.host)}/e/$k"/></entry>"""
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>\n<feed lang="${p.lang}">\n$entries\n</feed>\n"""
  }

  def text(ws: Array[String]): String =
    ws.grouped(15).map(l => l.mkString(" ").capitalize + ".").grouped(4)
      .map(_.mkString(" ")).mkString("\n\n") + "\n"

  /** Page bytes of plan `p` after `edits` word edits. A copy is built
    * from its source's plan: a mirror is the source's bytes, a
    * near-duplicate the source's page with two words edited. */
  def bytes(seed: Long, p: Plan, n: Long, edits: Int, editSalt: Long): Array[Byte] = {
    val base = if (p.dup == 0) p else plan(seed, p.source)
    val ws =
      if (p.dup == 2) bodyWords(seed, base, 2 + edits, 11 + editSalt)
      else bodyWords(seed, base, edits, editSalt)
    p.kind match {
      case Pdf => pdf(seed, base, ws)
      case Xml => xml(base, ws).getBytes(UTF_8)
      case Text => text(ws).getBytes(UTF_8)
      case _ => html(seed, base, ws, n).getBytes(UTF_8)
    }
  }

  // ---- snapshots ----

  /** Poison counts for `n` pages. */
  def nullPayloads(n: Long): Int = math.max(4, (n / 1000).toInt)
  def nullUrls(n: Long): Int = math.max(2, (n / 3000).toInt)

  private def poisonUrl(tag: String, k: Int) = s"https://www.gone.example.net/$tag/$k"

  /** First snapshot: every page, its recapture when planned, then the
    * poison rows (`withNullUrls` adds the null-url class). */
  def snapshotA(spark: SparkSession, seed: Long, n: Long, withNullUrls: Boolean,
                slices: Int): Dataset[PageRow] = {
    import spark.implicits._
    val pages = spark.range(0, n, 1, slices).as[Long].mapPartitions(_.flatMap { i =>
      val p = plan(seed, i)
      val url = urlOf(p)
      val first = PageRow(url, baseTs(i), bytes(seed, p, n, 0, 0), null, p.lang)
      p.recapture match {
        case 0 => Iterator(first)
        case 1 => Iterator(first, first.copy(warc_ts = new Timestamp(first.warc_ts.getTime + Day)))
        case _ => Iterator(first, PageRow(url, new Timestamp(first.warc_ts.getTime + Day),
          bytes(seed, p, n, 1 + p.words / 50, 5), null, p.lang))
      }
    })
    val poison = (0 until nullPayloads(n)).map(k =>
      PageRow(poisonUrl("a", k), baseTs(k), null, null, "en")) ++
      (if (withNullUrls) (0 until nullUrls(n)).map(k =>
        PageRow(null, baseTs(k), bytes(seed, plan(seed, k), n, 0, 0), null, "en"))
      else Nil)
    pages.union(spark.createDataset(poison).repartition(1))
  }

  /** Latest version of page `p` in snapshot A. */
  private def latestA(seed: Long, p: Plan, n: Long): Array[Byte] =
    if (p.recapture == 2) bytes(seed, p, n, 1 + p.words / 50, 5) else bytes(seed, p, n, 0, 0)

  def changedInB(seed: Long, i: Long, changedShare: Double): Boolean =
    rng(seed, i, 9).unit() < changedShare

  /** Next snapshot of the same urls: `changedShare` of them edited, plus
    * `newPages` new urls and null-payload poison rows. */
  def snapshotB(spark: SparkSession, seed: Long, n: Long, changedShare: Double,
                newPages: Long, slices: Int): Dataset[PageRow] = {
    import spark.implicits._
    val ts = (i: Long) => new Timestamp(baseTs(i).getTime + 7 * Day)
    val pages = spark.range(0, n + newPages, 1, slices).as[Long].map { i =>
      // new urls come from plans past the first snapshot's index range
      val p = plan(seed, i)
      val body =
        if (i >= n) bytes(seed, p, n + newPages, 0, 0)
        else if (changedInB(seed, i, changedShare)) bytes(seed, p, n, 2 + p.words / 40, 13)
        else latestA(seed, p, n)
      PageRow(urlOf(p), ts(i), body, null, p.lang)
    }
    val poison = (0 until nullPayloads(n)).map(k =>
      PageRow(poisonUrl("b", k), ts(k), null, null, "en"))
    pages.union(spark.createDataset(poison).repartition(1))
  }
}
