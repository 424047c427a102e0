package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.{HostAuthorityRegex, extractedPersisted, side, t}
import graft.ops.{LinkGraph, Skew}

/** The link-graph domain: queries over `LinkGraph` or the link edges of
  * the shared extraction pass, with the corpora only they read. */
object Graph {

  /** (src_url, dst_url) of every extracted link, from the session's one
    * persisted extraction pass. */
  private def linkEdges(s: SparkSession): DataFrame = {
    import s.implicits._
    extractedPersisted(s).flatMap(p => p.links.map(l => (p.doc.url, l.dst_url)))
      .toDF("src_url", "dst_url")
  }

  /** Deterministic link-exchange corpus for q_mutual_hosts: page edges
    * derived from doc_id arithmetic (i%40 → 3i%40), which plants mutual
    * host pairs exactly at i ≡ 0 (mod 5) — the oracle re-derives the SAME
    * edges from documents, so the whole pipeline (urls → hosts → collapse
    * → reciprocal join) is cross-engine-gated with no side table. */
  private[graft] def linkExchangeCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      concat(lit("https://h"), (col("doc_id") % 40).cast("string"),
        lit(".test/p"), col("doc_id").cast("string")).as("src_url"),
      concat(lit("https://h"), ((col("doc_id") * 3) % 40).cast("string"),
        lit(".test/q"), (col("doc_id") % 7).cast("string")).as("dst_url"))

  /** Deterministic anchor-bearing link corpus derived from the documents
    * table — no external data: every doc emits three links (one to a HOT
    * hub target so the top-k sees a hot key, two to a ~25-way
    * spread of site targets), anchor phrases picked from an 8-word vocab
    * by an md5 index (engine-portable: conv(hex) in Spark == '0x' cast in
    * DuckDB), with ~1/7 NULL and ~1/5 empty anchors so the text filter is
    * non-degenerate. Shared by q_anchor_stats and SideTables
    * (side_anchor_links). */
  private[graft] def anchorCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val id = col("doc_id")
    val vocab = array(Seq("click here", "read more", "docs", "home",
      "details", "next page", "download", "reference").map(lit): _*)
    def pick(saltTag: String) = element_at(vocab,
      (pmod(conv(substring(md5(concat(id.cast("string"), lit(saltTag))),
        1, 8), 16, 10).cast("long"), lit(8)) + lit(1)).cast("int"))
    val src = concat(lit("https://src"), id.cast("string"),
      lit(".example.com/page"))
    val hub = d.select(src.as("src_url"),
      lit("https://hub.example.com/").as("dst_url"),
      pick("a").as("anchor"))
    val site = concat(lit("https://site"), pmod(id, lit(25)).cast("string"),
      lit(".example.com/doc"))
    val l2 = d.select(src.as("src_url"), site.as("dst_url"),
      when(pmod(id, lit(7)) === 0, lit(null).cast("string"))
        .otherwise(pick("b")).as("anchor"))
    val l3 = d.select(src.as("src_url"), site.as("dst_url"),
      when(pmod(id, lit(5)) === 0, lit(""))
        .otherwise(pick("c")).as("anchor"))
    hub.unionAll(l2).unionAll(l3)
  }

  val queries: Seq[Query] = Seq(
    Query("q_link_report", (s, _) => {
      import s.implicits._
      val ex = extractedPersisted(s) // ONE extraction pass feeds all 3 frames
      val urls = ex.map(_.doc.url).toDF("url")
      val links = ex.flatMap(p => p.links.map(l =>
        (p.doc.url, l.dst_url, l.kind, l.anchor))).toDF("src_url", "dst_url", "kind", "anchor")
      val anchors = ex.flatMap(p => p.anchors.map(a => (p.doc.url, a)))
        .toDF("url", "anchor_id")
      LinkGraph.integrityReport(links, urls, anchors)
    },
      s"""WITH l AS (SELECT * FROM ${side("side_links")}),
         |u AS (SELECT url FROM ${side("side_urls")}),
         |a AS (SELECT url AS an_url, anchor_id FROM ${side("side_anchors")}),
         |j AS (
         |  SELECT NULLIF(regexp_extract(l.dst_url, '$HostAuthorityRegex', 1), '') AS dst_host,
         |         l.kind,
         |         u.url IS NOT NULL AS target_exists,
         |         l.anchor <> '' AS has_anchor,
         |         a.an_url IS NOT NULL AS anchor_exists
         |  FROM l LEFT JOIN u ON l.dst_url = u.url
         |         LEFT JOIN a ON l.dst_url = a.an_url AND l.anchor = a.anchor_id)
         |SELECT dst_host, count(*) AS total_links,
         |  CAST(sum(CASE WHEN NOT target_exists THEN 1 ELSE 0 END) AS BIGINT) AS broken,
         |  CAST(sum(CASE WHEN kind = 'pagination' THEN 1 ELSE 0 END) AS BIGINT) AS pagination,
         |  CAST(sum(CASE WHEN has_anchor AND target_exists AND NOT anchor_exists THEN 1 ELSE 0 END) AS BIGINT) AS missing_anchors
         |FROM j GROUP BY dst_host""".stripMargin),
    Query("q_canonical_groups", (s, _) => {
      import s.implicits._
      val ex = extractedPersisted(s)
      val urls = ex.map(_.doc.url).toDF("url")
      val meta = ex.map(p => (p.meta.url, p.meta.canonical)).toDF("url", "canonical")
      LinkGraph.canonicalGroups(urls, meta)
    },
      s"""WITH urls AS (SELECT url FROM ${side("side_urls")}),
         |meta AS (SELECT url, canonical FROM ${side("side_meta")}),
         |canon AS (SELECT url AS m_url, canonical FROM meta
         |          WHERE canonical IS NOT NULL AND canonical <> url),
         |resolved AS (
         |  SELECT u.url, coalesce(k.url, u.url) AS representative,
         |         k.url IS NOT NULL AS via_canonical
         |  FROM urls u
         |  LEFT JOIN canon c ON u.url = c.m_url
         |  LEFT JOIN urls k ON c.canonical = k.url)
         |SELECT representative, count(*) AS n_aliases,
         |  CAST(sum(CASE WHEN via_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_canonicalized
         |FROM resolved GROUP BY representative""".stripMargin),
    Query("q_pagerank", (s, _) =>
      // graph-global crawl priority over the REAL extracted link graph:
      // 3 damped iterations, dangling mass redistributed; ranks rounded
      // to 7 decimals (drift between Spark's and DuckDB's float sum
      // orders is ~1e-14 relative — far below the rounding quantum)
      LinkGraph.pageRank(linkEdges(s), iterations = 3, damping = 0.85)
        .select(col("url"), round(col("rank"), 7).as("rank")),
      // the 3 damped iterations UNROLLED relationally: DuckDB re-derives
      // the simple graph, out-degrees, per-iteration dangling mass, and
      // contribution sums from the raw side_links rows — the Spark side's
      // persist/unpersist iteration never appears here
      s"""WITH e AS (SELECT DISTINCT src_url AS src, dst_url AS dst
         |           FROM ${side("side_links")}
         |           WHERE src_url IS NOT NULL AND dst_url IS NOT NULL
         |             AND src_url <> dst_url),
         |nodes AS (SELECT src AS url FROM e UNION SELECT dst FROM e),
         |prm AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         |deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT url, 1.0/(SELECT n FROM prm) AS r FROM nodes),
         |g1 AS (SELECT coalesce(sum(r.r), 0) AS dang FROM r0 r
         |       LEFT JOIN deg d ON r.url = d.src WHERE d.src IS NULL),
         |c1 AS (SELECT e.dst AS url, sum(r.r/d.outdeg) AS c FROM e
         |       JOIN r0 r ON e.src = r.url JOIN deg d ON e.src = d.src
         |       GROUP BY e.dst),
         |r1 AS (SELECT n0.url, (1 - 0.85)::DOUBLE/(SELECT n FROM prm)
         |         + 0.85::DOUBLE*(coalesce(c.c, 0)
         |                         + (SELECT dang FROM g1)/(SELECT n FROM prm)) AS r
         |       FROM nodes n0 LEFT JOIN c1 c ON n0.url = c.url),
         |g2 AS (SELECT coalesce(sum(r.r), 0) AS dang FROM r1 r
         |       LEFT JOIN deg d ON r.url = d.src WHERE d.src IS NULL),
         |c2 AS (SELECT e.dst AS url, sum(r.r/d.outdeg) AS c FROM e
         |       JOIN r1 r ON e.src = r.url JOIN deg d ON e.src = d.src
         |       GROUP BY e.dst),
         |r2 AS (SELECT n0.url, (1 - 0.85)::DOUBLE/(SELECT n FROM prm)
         |         + 0.85::DOUBLE*(coalesce(c.c, 0)
         |                         + (SELECT dang FROM g2)/(SELECT n FROM prm)) AS r
         |       FROM nodes n0 LEFT JOIN c2 c ON n0.url = c.url),
         |g3 AS (SELECT coalesce(sum(r.r), 0) AS dang FROM r2 r
         |       LEFT JOIN deg d ON r.url = d.src WHERE d.src IS NULL),
         |c3 AS (SELECT e.dst AS url, sum(r.r/d.outdeg) AS c FROM e
         |       JOIN r2 r ON e.src = r.url JOIN deg d ON e.src = d.src
         |       GROUP BY e.dst),
         |r3 AS (SELECT n0.url, (1 - 0.85)::DOUBLE/(SELECT n FROM prm)
         |         + 0.85::DOUBLE*(coalesce(c.c, 0)
         |                         + (SELECT dang FROM g3)/(SELECT n FROM prm)) AS r
         |       FROM nodes n0 LEFT JOIN c3 c ON n0.url = c.url)
         |SELECT url, round(r, 7) AS rank FROM r3""".stripMargin),
    Query("q_skew_topk", (s, _) => {
      // top-3 most-linked destination urls per destination host via the
      // bounded top-k aggregate — hosts are Zipfian at crawl scale, so a
      // single window over a hot host would be one task
      val counts = linkEdges(s)
        .select(expr("parse_url(dst_url, 'HOST')").as("dst_host"), col("dst_url"))
        .groupBy(col("dst_host"), col("dst_url"))
        .agg(count(lit(1)).as("cnt"))
      Skew.topKRows(counts, "dst_host", 3, -col("cnt"), col("dst_url"))
        .orderBy(col("dst_host"), col("rnk"))
    },
      // the bounded top-k aggregate must equal the straightforward
      // single-window top-k — DuckDB re-derives host, counts, and ranking
      // from the raw link rows
      s"""WITH c AS (
         |  SELECT NULLIF(regexp_extract(dst_url, '$HostAuthorityRegex', 1), '') AS dst_host,
         |         dst_url, count(*) AS cnt
         |  FROM ${side("side_links")} GROUP BY 1, 2),
         |r AS (
         |  SELECT dst_host, dst_url, cnt, row_number() OVER (
         |    PARTITION BY dst_host ORDER BY cnt DESC, dst_url) AS rnk
         |  FROM c)
         |SELECT dst_host, dst_url, cnt, rnk FROM r WHERE rnk <= 3""".stripMargin),
    Query("q_anchor_stats", (s, dir) =>
      // per-target anchor-text rollup over the planted corpus
      // (side_anchor_links); the oracle re-derives counts, the
      // (cnt DESC, anchor ASC) ranking, and both rollup joins
      LinkGraph.anchorStats(anchorCorpus(s, dir), k = 5),
      // the whole operator re-derived from the exported corpus: text
      // filter, (dst, anchor) counts, (cnt DESC, anchor ASC) ranking,
      // the k=5 slice, and both per-target rollups
      s"""WITH l AS (SELECT dst_url, anchor
         |           FROM ${side("side_anchor_links")}
         |           WHERE anchor IS NOT NULL AND anchor <> ''),
         |c AS (SELECT dst_url, anchor, count(*) AS cnt FROM l GROUP BY 1, 2),
         |t AS (SELECT dst_url, CAST(sum(cnt) AS BIGINT) AS n_refs,
         |             count(*) AS n_distinct_anchors
         |      FROM c GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (PARTITION BY dst_url
         |        ORDER BY cnt DESC, anchor ASC) AS rnk FROM c),
         |k AS (SELECT dst_url,
         |        min(CASE WHEN rnk = 1 THEN anchor END) AS top_anchor,
         |        string_agg(anchor, '|' ORDER BY rnk) AS top_anchors
         |      FROM r WHERE rnk <= 5 GROUP BY dst_url)
         |SELECT t.dst_url, t.n_refs, t.n_distinct_anchors,
         |       k.top_anchor, k.top_anchors
         |FROM t JOIN k ON t.dst_url = k.dst_url""".stripMargin),
    Query("q_degree_histogram", (s, _) =>
      // in-degree power-law audit over the extracted link graph; the
      // oracle recomputes degrees + exact log2 buckets over side_links
      LinkGraph.degreeHistogram(linkEdges(s), "dst_url"),
      // exact log2 bucket = length(bin(deg)) - 1 in both engines (no
      // leading zeros, no float log)
      s"""WITH d AS (SELECT dst_url, CAST(count(*) AS BIGINT) AS deg
         |           FROM ${side("side_links")} GROUP BY 1)
         |SELECT CAST(length(bin(deg)) - 1 AS INT) AS bucket,
         |       count(*) AS n_targets,
         |       min(deg) AS min_deg, max(deg) AS max_deg,
         |       CAST(sum(deg) AS BIGINT) AS total_edges
         |FROM d GROUP BY 1""".stripMargin),
    Query("q_mutual_hosts", (s, dir) =>
      // link-exchange detection over the planted reciprocal corpus; the
      // oracle re-derives edges, hosts, collapse, and reciprocal join
      LinkGraph.mutualHostLinks(LinkGraph.hostGraph(linkExchangeCorpus(s, dir))),
      // the WHOLE pipeline re-derived from documents: same doc_id
      // arithmetic edges, lexical hosts, collapse, reciprocal self-join
      s"""WITH ed AS (SELECT
         |    'https://h' || (doc_id % 40) || '.test/p' || doc_id AS src_url,
         |    'https://h' || ((doc_id * 3) % 40) || '.test/q' || (doc_id % 7)
         |      AS dst_url
         |  FROM documents),
         |l AS (SELECT
         |    lower(NULLIF(regexp_extract(src_url,
         |      '$HostAuthorityRegex',
         |      1), '')) AS src_host,
         |    lower(NULLIF(regexp_extract(dst_url,
         |      '$HostAuthorityRegex',
         |      1), '')) AS dst_host
         |  FROM ed),
         |g AS (SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
         |      FROM l WHERE src_host IS NOT NULL AND dst_host IS NOT NULL
         |        AND src_host <> dst_host
         |      GROUP BY 1, 2)
         |SELECT a.src_host AS host_a, a.dst_host AS host_b,
         |       a.n_links AS links_ab, b.n_links AS links_ba
         |FROM g a JOIN g b
         |  ON a.src_host = b.dst_host AND a.dst_host = b.src_host
         |WHERE a.src_host < a.dst_host""".stripMargin),
    Query("q_host_graph", (s, _) =>
      // the 10^12-edge → host-graph collapse; oracle re-derives hosts
      // with the lexical authority regex and the same exact counts
      LinkGraph.hostGraph(linkEdges(s)),
      // hosts via the established lexical authority regex (≡ Spark's
      // try_parse_url HOST, proven by q_url_patterns), same exact counts
      s"""WITH l AS (SELECT src_url, dst_url,
         |    lower(NULLIF(regexp_extract(src_url,
         |      '$HostAuthorityRegex',
         |      1), '')) AS src_host,
         |    lower(NULLIF(regexp_extract(dst_url,
         |      '$HostAuthorityRegex',
         |      1), '')) AS dst_host
         |  FROM ${side("side_links")})
         |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links,
         |  CAST(count(DISTINCT src_url) AS BIGINT) AS n_src_pages,
         |  CAST(count(DISTINCT dst_url) AS BIGINT) AS n_dst_pages,
         |  src_host = dst_host AS is_internal
         |FROM l WHERE src_host IS NOT NULL AND dst_host IS NOT NULL
         |GROUP BY 1, 2""".stripMargin),
    Query("q_crawl_depth", (s, _) => {
      // BFS hop distance from the root set (src urls that are never link
      // targets) over the extracted link graph; the oracle re-derives the
      // same table as min(depth) over a recursive-CTE expansion
      val links = linkEdges(s)
      // seeds from the FILTERED edge set — the same (non-null, src<>dst)
      // frame crawlDepth iterates over and the DuckDB oracle derives its
      // seed set from; the raw table would count a self-loop's dst into
      // the anti-join and silently drop self-linking seeds (ADVICE r5 #1)
      val e = links.filter(col("src_url").isNotNull &&
        col("dst_url").isNotNull && col("src_url") =!= col("dst_url"))
      val seeds = e.select(col("src_url").as("url")).distinct()
        .join(e.select(col("dst_url").as("url")).distinct(),
          Seq("url"), "left_anti")
      LinkGraph.crawlDepth(links, seeds, maxDepth = 4)
    },
      // BFS distance as min(depth) over a bounded recursive-CTE expansion
      // of the SAME simple graph (distinct, null-free, self-loop-free)
      // from the SAME root set (src EXCEPT dst)
      s"""WITH RECURSIVE
         |e AS (SELECT DISTINCT src_url AS src, dst_url AS dst
         |      FROM ${side("side_links")}
         |      WHERE src_url IS NOT NULL AND dst_url IS NOT NULL
         |        AND src_url <> dst_url),
         |seeds AS (SELECT DISTINCT src AS url FROM e
         |          WHERE src NOT IN (SELECT dst FROM e)),
         |r(url, depth) AS (
         |  SELECT url, 0 FROM seeds
         |  UNION
         |  SELECT e.dst, r.depth + 1 FROM r JOIN e ON r.url = e.src
         |  WHERE r.depth < 4)
         |SELECT url, CAST(min(depth) AS INT) AS depth
         |FROM r GROUP BY 1""".stripMargin),
    Query("q_link_spam", (s, _) => {
      import s.implicits._
      // per-page link-spam signals; oracle = side_docs LEFT JOIN the
      // side_links rollup with the same cross-multiplied flags
      val ex = extractedPersisted(s)
      val docs = ex.map(p => (p.doc.url, p.doc.text)).toDF("url", "__text")
        .select(col("url"), length(col("__text")).as("text_len"))
      val links = ex.flatMap(p => p.links.map(l =>
        (p.doc.url, l.is_internal))).toDF("src_url", "is_internal")
      LinkGraph.linkSpamScores(docs, links)
    },
      s"""WITH l AS (SELECT src_url, CAST(count(*) AS BIGINT) AS nl,
         |    CAST(sum(CASE WHEN NOT is_internal THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ne
         |  FROM ${side("side_links")} GROUP BY 1)
         |SELECT d.url, coalesce(l.nl, 0) AS n_links,
         |       coalesce(l.ne, 0) AS n_external, d.text_len,
         |       coalesce(l.nl, 0) * 50 > d.text_len AS link_heavy,
         |       coalesce(l.ne, 0) * 2 > coalesce(l.nl, 0) AS ext_heavy
         |FROM ${side("side_docs")} d LEFT JOIN l ON d.url = l.src_url""".stripMargin)
  )
}
