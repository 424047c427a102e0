package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.SparkTestBase

class LinkGraphSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val urls = Seq("https://e.com/a", "https://e.com/a-alias",
    "https://e.com/b", "https://e.com/points-nowhere").toDF("url")

  private val meta = Seq(
    ("https://e.com/a", null.asInstanceOf[String]),
    ("https://e.com/a-alias", "https://e.com/a"),        // 1-hop to known target
    ("https://e.com/b", "https://e.com/b"),              // self-canonical
    ("https://e.com/points-nowhere", "https://x.com/gone") // unknown target
  ).toDF("url", "canonical")

  test("canonical dedup: 1-hop to known targets only") {
    val rep = LinkGraph.dedupToCanonical(urls, meta)
      .select($"url", $"representative").as[(String, String)].collect().toMap
    assert(rep("https://e.com/a-alias") == "https://e.com/a")
    assert(rep("https://e.com/a") == "https://e.com/a")
    assert(rep("https://e.com/b") == "https://e.com/b") // self-canonical filtered
    assert(rep("https://e.com/points-nowhere") == "https://e.com/points-nowhere")
  }

  test("canonical groups absorb aliases") {
    val g = LinkGraph.canonicalGroups(urls, meta)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(g("https://e.com/a") == (2L, 1L))
    assert(g.size == 3)
  }

  test("integrity report: broken / pagination / missing anchors") {
    val links = Seq(
      ("https://e.com/a", "https://e.com/b", "link", ""),
      ("https://e.com/a", "https://e.com/b", "pagination", ""),
      ("https://e.com/a", "https://e.com/gone", "link", ""),       // broken
      ("https://e.com/a", "https://e.com/b", "link", "sec1"),      // anchor ok
      ("https://e.com/a", "https://e.com/b", "link", "nope")       // anchor missing
    ).toDF("src_url", "dst_url", "kind", "anchor")
    val anchors = Seq(("https://e.com/b", "sec1")).toDF("url", "anchor_id")
    val rep = LinkGraph.integrityReport(links, urls, anchors).collect()
    val byHost = rep.map(r => r.getAs[String]("dst_host") -> r).toMap
    val e = byHost("e.com")
    assert(e.getAs[Long]("total_links") == 5)
    assert(e.getAs[Long]("broken") == 1)
    assert(e.getAs[Long]("pagination") == 1)
    assert(e.getAs[Long]("missing_anchors") == 1)
  }

  test("anchorStats: counts, rank order, tie-breaks, text filter") {
    val links = Seq(
      ("s1", "https://t.com/", "docs"),
      ("s2", "https://t.com/", "docs"),
      ("s3", "https://t.com/", "home"),   // cnt tie with "api" → anchor asc
      ("s4", "https://t.com/", "api"),
      ("s5", "https://t.com/", null),     // uncounted
      ("s6", "https://t.com/", ""),       // uncounted
      ("s7", "https://u.com/", "only")
    ).toDF("src_url", "dst_url", "anchor")
    val out = LinkGraph.anchorStats(links, k = 2).collect()
      .map(r => r.getString(0) -> r).toMap
    val tRow = out("https://t.com/")
    assert(tRow.getAs[Long]("n_refs") == 4)
    assert(tRow.getAs[Long]("n_distinct_anchors") == 3)
    assert(tRow.getAs[String]("top_anchor") == "docs")
    // k=2: docs(2) then the cnt-1 tie api<home → "docs|api"
    assert(tRow.getAs[String]("top_anchors") == "docs|api")
    val uRow = out("https://u.com/")
    assert(uRow.getAs[Long]("n_refs") == 1)
    assert(uRow.getAs[String]("top_anchors") == "only")
  }

  test("linkSpamScores: flags via exact cross-multiplies, zero-link pages kept") {
    val docs = Seq(
      ("https://e.com/farm", 100L),   // 3 links·50=150 > 100 → link_heavy
      ("https://e.com/article", 900L),// 2·50=100 < 900 → clean
      ("https://e.com/orphan", 40L)   // no links at all
    ).toDF("url", "text_len")
    val links = Seq(
      ("https://e.com/farm", false), ("https://e.com/farm", false),
      ("https://e.com/farm", true),
      ("https://e.com/article", true), ("https://e.com/article", false)
    ).toDF("src_url", "is_internal")
    val out = LinkGraph.linkSpamScores(docs, links).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(out("https://e.com/farm") == ((3L, 2L, true, true)))
    // exactly half external: 1·2 == 2 links → NOT ext_heavy (strict >)
    assert(out("https://e.com/article") == ((2L, 1L, false, false)))
    assert(out("https://e.com/orphan") == ((0L, 0L, false, false)))
  }

  test("degreeHistogram: log2 buckets, hand-derived") {
    // degrees: a→1, b→2, c→3, d→8 ⇒ buckets 0, 1, 1, 3
    val links = (Seq("a") ++ Seq.fill(2)("b") ++ Seq.fill(3)("c") ++
      Seq.fill(8)("d")).map(d => ("s", d)).toDF("src_url", "dst_url")
    val out = LinkGraph.degreeHistogram(links, "dst_url").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(out == Map(
      0 -> ((1L, 1L, 1L, 1L)),
      1 -> ((2L, 2L, 3L, 5L)),
      3 -> ((1L, 8L, 8L, 8L))))
  }

  test("anchorStats: hot target exact under salting (vs direct window)") {
    import org.apache.spark.sql.functions._
    // one hot target with 40 distinct anchors at varied counts
    val rows = (0 until 120).map { i =>
      (s"s$i", "https://hot.com/", s"a${i % 40}")
    }
    val links = rows.toDF("src_url", "dst_url", "anchor")
    val got = LinkGraph.anchorStats(links, k = 5)
      .filter(col("dst_url") === "https://hot.com/").collect()(0)
    // every anchor occurs exactly 3 times → pure anchor-asc tie-break:
    // a0 < a1 < a10 < a11 < a12 (string order)
    assert(got.getAs[Long]("n_refs") == 120)
    assert(got.getAs[Long]("n_distinct_anchors") == 40)
    assert(got.getAs[String]("top_anchors") == "a0|a1|a10|a11|a12")
  }

  test("crawlDepth: min-hop BFS — diamond takes the short side, cycles " +
      "terminate, depth bound cuts, unreachable nodes absent") {
    val edges = Seq(
      // diamond: s -> a -> b -> t and s -> t (t must settle at depth 1)
      ("s", "a"), ("a", "b"), ("b", "t"), ("s", "t"),
      // cycle off b
      ("b", "c"), ("c", "b"),
      // a long chain s -> d1 -> d2 -> d3 -> d4 -> d5 (d5 beyond maxDepth 4)
      ("s", "d1"), ("d1", "d2"), ("d2", "d3"), ("d3", "d4"), ("d4", "d5"),
      // island reachable only from a non-root (x is a dst elsewhere? no:
      // x -> y with x never a dst -> x IS a root)
      ("x", "y"),
      // self-loop and duplicate edges must be ignored
      ("s", "s"), ("s", "a"))
      .toDF("src_url", "dst_url")
    val seeds = Seq("s", "x").toDF("url")
    val out = LinkGraph.crawlDepth(edges, seeds, maxDepth = 4)
      .as[(String, Int)].collect().toMap
    assert(out == Map("s" -> 0, "x" -> 0, "a" -> 1, "t" -> 1, "d1" -> 1,
      "y" -> 1, "b" -> 2, "c" -> 3, "d2" -> 2, "d3" -> 3, "d4" -> 4))
    // d5 is 5 hops out: cut by the bound
    assert(!out.contains("d5"))
  }

  test("hostGraph: collapse, exact counts, internal flag, unparseable drop, " +
      "and composition with pageRank") {
    val links = Seq(
      ("https://a.com/p1", "https://b.com/x"),
      ("https://a.com/p1", "https://b.com/y"),
      ("https://a.com/p2", "https://b.com/x"),
      ("https://a.com/p1", "https://a.com/p2"),   // internal
      ("https://A.COM/p3", "https://b.com/x"),    // host lowercased
      ("not a url", "https://b.com/x"),           // unparseable src drops
      ("https://a.com/p1", "mailto:x@y.z"))       // no authority → drops
      .toDF("src_url", "dst_url")
    val out = LinkGraph.hostGraph(links).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(out == Map(
      ("a.com", "b.com") -> ((4L, 3L, 2L, false)),
      ("a.com", "a.com") -> ((1L, 1L, 1L, true))))
    // the collapse feeds the graph ops directly
    val hr = LinkGraph.pageRank(
      LinkGraph.hostGraph(links).filter(!col("is_internal"))
        .select(col("src_host"), col("dst_host")), iterations = 2)
      .as[(String, Double)].collect().toMap
    assert(hr.keySet == Set("a.com", "b.com") && hr("b.com") > hr("a.com"))
  }

  test("mutualHostLinks: reciprocal pairs once, one-way and internal " +
      "edges excluded, directional counts kept") {
    val edges = Seq(
      ("https://a.com/1", "https://b.com/x"),
      ("https://a.com/2", "https://b.com/y"),
      ("https://b.com/z", "https://a.com/1"),   // reciprocal: a<->b
      ("https://a.com/1", "https://c.com/x"),   // one-way only
      ("https://d.com/1", "https://d.com/2"))   // internal
      .toDF("src_url", "dst_url")
    val out = LinkGraph.mutualHostLinks(LinkGraph.hostGraph(edges))
      .as[(String, String, Long, Long)].collect()
    assert(out.toSeq == Seq(("a.com", "b.com", 2L, 1L)))
  }

  test("crawlDepth: null edges dropped, empty seeds -> empty result") {
    val edges = Seq(("a", null.asInstanceOf[String]), (null, "b"), ("a", "b"))
      .toDF("src_url", "dst_url")
    val out = LinkGraph.crawlDepth(edges,
      spark.emptyDataset[String].toDF("url"), maxDepth = 3)
    assert(out.isEmpty)
    val out2 = LinkGraph.crawlDepth(edges, Seq("a").toDF("url"), maxDepth = 3)
      .as[(String, Int)].collect().toMap
    assert(out2 == Map("a" -> 0, "b" -> 1))
  }
}
