package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/**
 * Relational link-graph operators (SURVEY §2.4/§2.5):
 *
 *  - `dedupToCanonical`: `<link rel=canonical>` resolution, 1 hop exactly
 *    (the reference re-validates once, core/scraper.py:830-836 + 385-388):
 *    a page whose canonical target EXISTS in the corpus is represented by
 *    the target; unknown targets keep the page itself.
 *  - `integrityReport`: closed-world link integrity
 *    (core/scraper.py:774-828): per destination host, total links, broken
 *    (target not in corpus), internal, and missing-anchor counts — the
 *    snapshot analog of status-code checks.
 */
object LinkGraph {

  /** urls: (url); meta: (url, canonical nullable). Output: (url, representative,
    * via_canonical). Equi-join + coalesce — broadcastable dims at any scale
    * when canonicals are sparse; AQE picks SMJ otherwise. */
  def dedupToCanonical(urls: DataFrame, meta: DataFrame): DataFrame = {
    val canon = meta.select(col("url").as("m_url"), col("canonical"))
      .filter(col("canonical").isNotNull && col("canonical") =!= col("m_url"))
    val known = urls.select(col("url").as("k_url"))
    urls.join(canon, urls("url") === col("m_url"), "left_outer")
      .join(known, col("canonical") === col("k_url"), "left_outer")
      .select(urls("url"),
        coalesce(col("k_url"), urls("url")).as("representative"),
        col("k_url").isNotNull.as("via_canonical"))
  }

  /** Representative groups: canonical targets absorb their aliases;
    * emits (representative, n_aliases). */
  def canonicalGroups(urls: DataFrame, meta: DataFrame): DataFrame =
    dedupToCanonical(urls, meta)
      .groupBy(col("representative"))
      .agg(count(lit(1)).as("n_aliases"),
        sum(when(col("via_canonical"), 1L).otherwise(0L)).as("n_canonicalized"))

  /**
   * PageRank over the extracted link graph — the classic crawl-priority
   * centrality (complements `Priority.calculate`'s per-page recency
   * formula with a graph-global importance signal; the reference orders
   * its queue by per-page features only, core/scraper.py:640-664).
   *
   * Two branches over ONE persisted distinct edge frame, chosen by one
   * scalar aggregate over it (edge count and url bytes), so nothing is
   * computed twice and no more than the budget ever reaches the driver:
   *
   * Size-gated local finish: a graph within [[LocalFinishEdges]] distinct
   * edges and [[LocalFinishUrlBytes]] of src + dst url bytes is collected
   * once and iterated on the driver over primitive arrays (url→int index,
   * out-degree array, one dangling-mass sum per iteration). At
   * crawl-snapshot sizes the distributed loop is bound by job latency, not
   * work (3 iterations over 60k edges: ~33 Spark jobs for milliseconds of
   * arithmetic) — the "contract distributed, finish small" shape of
   * [[Dedup.connectedComponents]]. Driver memory at the caps (E = 500k
   * edges, B = 32 MB), worst case N = 2E = 1M nodes, 32-byte urls:
   *  - estimate, phase by phase (no two overlap): the collect holds the
   *    decoded rows (~80 B/edge + B) while it builds the (src, dst) tuples
   *    (~100 B/edge + B), ~150 MB; [[indexEdges]] holds the tuples, the
   *    url→int map (~56 B/node) and the endpoint arrays, ~140 MB, and
   *    drops them on return; the output holds the url strings (~40 B/node
   *    + B) while it encodes the result rows (~85 B/node + B), ~190 MB;
   *  - measured (JDK 17, local[2], a full GC every 50 ms during the call):
   *    the live heap peaked 307 MB above the session's steady state, the
   *    edge-frame build and cache included; at twice the caps (1M edges,
   *    64 MB) it peaked 606 MB above it, so the caps were halved;
   *  - retained: the returned local frame keeps one encoded (url, rank)
   *    row per node, ~117 B/node with 32-byte urls (236 MB measured for
   *    2M nodes, so ~118 MB at the caps) for as long as the caller holds
   *    the frame.
   * All of it is a CONSTANT independent of corpus size.
   *
   * Distributed path (the reason this is hand-rolled rather than GraphX):
   *  - every shuffle carries (url, double) pairs only — payloads never
   *    enter the iteration;
   *  - the per-destination contribution sum is a map-side-combinable
   *    aggregate, so Zipfian in-link hubs (google.com at crawl scale)
   *    are absorbed by partial aggregation, never buffered in one task;
   *  - each iteration eagerly `localCheckpoint`s its rank frame, which
   *    TRUNCATES the logical plan to the materialized RDD — `persist`
   *    alone does not (the cached frame still carries its full lineage
   *    tree, which compounds per iteration: the un-truncated 3-iteration
   *    plan audited at 1031 exchange nodes; the checkpointed one is
   *    flat). Truncation goes through [[Checkpoints.truncate]]: eager
   *    localCheckpoint by default, a reliable `checkpoint` dir when
   *    `spark.graft.checkpointDir` is set (executor loss under
   *    localCheckpoint forfeits the RDD — a long cluster run wants the
   *    durable mode; the plan-shape requirement is the truncation);
   *  - the dangling-mass redistribution is a scalar aggregate per
   *    iteration (one double to the driver, independent of graph size).
   *
   * Semantics (both branches, same floating-point expression per node):
   * standard damped PageRank on the DISTINCT simple graph (self-loops,
   * duplicate edges and null endpoints dropped); nodes = every url
   * appearing as src or dst; dangling mass (nodes with no out-links —
   * most dst-only urls in a closed-world crawl snapshot) is redistributed
   * uniformly, so each iteration's ranks sum to exactly 1 up to float
   * error. An empty graph returns an empty (url, rank) frame.
   *
   * edges: first two columns are (src, dst). Returns (url, rank).
   */
  def pageRank(edges: DataFrame, iterations: Int = 3,
               damping: Double = 0.85): DataFrame =
    pageRank(edges, iterations, damping, LocalFinishEdges)

  /** [[pageRank]] with an explicit driver-finish edge budget — the specs'
    * seam for pinning a branch (0 forces the distributed loop). */
  private[ops] def pageRank(edges: DataFrame, iterations: Int, damping: Double,
                            localFinishEdges: Long): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0: $iterations")
    val spark = edges.sparkSession
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges
      .select(col(edges.columns(0)).as("src"), col(edges.columns(1)).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    // (edge count, url bytes): per-task partial sums merged on the driver —
    // a SQL global aggregate would add a single-partition exchange, which
    // under AQE is one more job
    val (m, urlBytes) = e
      .select(octet_length(col("src")).cast("long") + octet_length(col("dst")))
      .as[Long].rdd
      .aggregate((0L, 0L))((a, b) => (a._1 + 1, a._2 + b),
        (x, y) => (x._1 + y._1, x._2 + y._2))
    if (m == 0L) {
      e.unpersist()
      Seq.empty[UrlRank].toDF()
    } else if (m <= localFinishEdges && urlBytes <= LocalFinishUrlBytes)
      localPageRank(e, iterations, damping)
    else distributedPageRank(e, iterations, damping)
  }

  /** Caps of [[pageRank]]'s driver finish: distinct edges, and src + dst
    * url bytes summed over them. The arithmetic is in its scaladoc. */
  private val LocalFinishEdges = 500_000L
  private val LocalFinishUrlBytes = 32L << 20

  /** [[pageRank]]'s driver finish over the persisted, non-empty distinct
    * edge frame `e` (unpersisted here). Returns a local (url, rank) frame. */
  private def localPageRank(e: DataFrame, iterations: Int,
                            damping: Double): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val (urls, src, dst) = indexEdges(e)
    val n = urls.length
    val outdeg = new Array[Int](n)
    src.foreach(s => outdeg(s) += 1)
    var rank = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iterations) {
      var dang = 0.0
      var v = 0
      while (v < n) { if (outdeg(v) == 0) dang += rank(v); v += 1 }
      val c = new Array[Double](n)
      var k = 0
      while (k < src.length) { c(dst(k)) += rank(src(k)) / outdeg(src(k)); k += 1 }
      // the distributed branch's per-node expression, term for term
      rank = Array.tabulate(n)(i => (1.0 - damping) / n + damping * (c(i) + dang / n))
    }
    val finalRank = rank
    // encoded row by row straight from the two arrays (no intermediate
    // collection of pairs), and already named (url, rank): a renaming
    // projection over a local relation is folded into a second copy of
    // every row by the optimizer
    val rows = new IndexedSeq[UrlRank] {
      def length: Int = n
      def apply(v: Int): UrlRank = UrlRank(urls(v), finalRank(v))
    }
    spark.createDataset(rows).toDF()
  }

  // not `private`: generated code cannot reach a private nested class
  private[ops] case class UrlRank(url: String, rank: Double)

  /** Collects the distinct edges `e` (and unpersists it) into int endpoint
    * arrays over a url table. Its own method so that the collected tuples
    * and the url→int index are garbage once it returns. */
  private def indexEdges(e: DataFrame): (Array[String], Array[Int], Array[Int]) = {
    import e.sparkSession.implicits._
    val es = e.as[(String, String)].collect()
    e.unpersist()
    val index = mutable.HashMap.empty[String, Int]
    val urls = ArrayBuffer.empty[String]
    def node(u: String): Int = index.getOrElseUpdate(u, { urls += u; urls.length - 1 })
    val src = new Array[Int](es.length)
    val dst = new Array[Int](es.length)
    var k = 0
    while (k < es.length) { src(k) = node(es(k)._1); dst(k) = node(es(k)._2); k += 1 }
    (urls.toArray, src, dst)
  }

  /** [[pageRank]]'s checkpointed loop over the persisted, non-empty
    * distinct edge frame `e` (unpersisted here). */
  private def distributedPageRank(e: DataFrame, iterations: Int,
                                  damping: Double): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val nodes = e.select(col("src").as("url"))
      .union(e.select(col("dst").as("url")))
      .distinct()
      .persist(MEMORY_AND_DISK)
    val n = nodes.count().toDouble
    // out-degree of the simple graph; dst-only urls have no row here
    val deg = e.groupBy(col("src"))
      .agg(count(lit(1)).cast("double").as("outdeg"))
      .persist(MEMORY_AND_DISK)
    // iteration-invariant frames, joined ONCE instead of per round (r6):
    //  - ew: edges with the source's out-degree attached — the old loop
    //    re-ran the e⋈deg join every iteration (3 extra shuffles per
    //    pagerank call for identical output);
    //  - nodesD: every node with its (nullable) out-degree. Carrying
    //    outdeg on the rank frame makes the dangling-mass term a plain
    //    filter+aggregate over the checkpointed ranks — the old
    //    per-iteration ranks⋈deg LEFT ANTI join (one more shuffle per
    //    round) is gone.
    val ew = e.join(deg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
      .persist(MEMORY_AND_DISK)
    val nodesD = nodes
      .join(deg, nodes("url") === deg("src"), "left_outer")
      .select(col("url"), col("outdeg"))
      .persist(MEMORY_AND_DISK)
    // the initial rank frame is a cheap projection over the persisted
    // nodesD — no truncate needed (iteration 1's checkpoint cuts whatever
    // lineage it has; eagerly materializing it was one more full job per
    // pagerank call for nothing). Iteration frames ARE truncated below:
    // eager localCheckpoint materializes AND truncates the plan to the
    // stored RDD, so each iteration's frame is a leaf, not a growing tree.
    var ranks = nodesD.select(col("url"), col("outdeg"),
      lit(1.0 / n).as("rank"))
    for (_ <- 1 to iterations) {
      // total rank sitting on dangling nodes this iteration — kept IN the
      // plan as a broadcast one-row frame (a driver-side first() here
      // would cost a second action per iteration; the arithmetic is the
      // same double division either way)
      val dangling = ranks.filter(col("outdeg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dang"))
      val contrib = ew
        .join(ranks.select(col("url"), col("rank")), col("src") === col("url"))
        .select(col("dst").as("url"), (col("rank") / col("outdeg")).as("w"))
      ranks = Checkpoints.truncate(nodesD
        .join(contrib.groupBy(col("url")).agg(sum(col("w")).as("c")),
          Seq("url"), "left_outer")
        .crossJoin(broadcast(dangling))
        .select(col("url"), col("outdeg"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("c"), lit(0.0)) +
              col("__dang") / lit(n)))
            .as("rank")))
      // the superseded iteration's checkpoint RDD is now unreferenced and
      // reclaimed by the ContextCleaner
    }
    // the returned frame is a materialized leaf, so its building blocks
    // can drop out of the cache now
    e.unpersist(); deg.unpersist(); ew.unpersist(); nodesD.unpersist()
    nodes.unpersist()
    ranks.select(col("url"), col("rank"))
  }

  /**
   * links: (src_url, dst_url, kind, anchor); corpus: (url); anchors:
   * (url, anchor_id). Left joins against url + (url, anchor) projections —
   * never payloads; rollup per destination host.
   */
  def integrityReport(links: DataFrame, corpus: DataFrame,
                      anchors: DataFrame): DataFrame = {
    val known = corpus.select(col("url").as("t_url"))
    val anch = anchors.select(col("url").as("a_url"), col("anchor_id"))
    val joined = links
      .join(known, links("dst_url") === col("t_url"), "left_outer")
      .join(anch,
        links("dst_url") === col("a_url") && links("anchor") === col("anchor_id"),
        "left_outer")
      .select(
        expr("parse_url(dst_url, 'HOST')").as("dst_host"),
        col("kind"),
        col("t_url").isNotNull.as("target_exists"),
        (links("anchor") =!= lit("")).as("has_anchor"),
        col("a_url").isNotNull.as("anchor_exists"))
    joined.groupBy(col("dst_host"))
      .agg(count(lit(1)).as("total_links"),
        sum(when(!col("target_exists"), 1L).otherwise(0L)).as("broken"),
        sum(when(col("kind") === "pagination", 1L).otherwise(0L)).as("pagination"),
        sum(when(col("has_anchor") && col("target_exists") && !col("anchor_exists"), 1L)
          .otherwise(0L)).as("missing_anchors"))
  }

  /** Anchor-text aggregation per link TARGET — the web-corpus signal
    * behind anchor-text document augmentation (anchor phrases describe
    * the target page better than the target's own boilerplate; used by
    * search engines since PageRank and by LLM corpora as title/query
    * surrogates). The reference extracts anchors per page
    * (processing/link_extractor shape); this is the corpus-wide rollup.
    *
    * Scale shape: hot targets (a homepage linked by 10^7 pages) make
    * per-target anchor lists unbounded, so nothing here collects raw
    * anchors per key:
    *   - (dst, anchor) counts are a map-side-combinable agg — the
    *     shuffle carries one row per distinct (target, phrase) per
    *     mapper,
    *   - one per-target aggregate over those counts gives the totals and
    *     the top-k phrases ([[Skew.topK]]): its partial side keeps k
    *     phrases per target per task, so a hot target's final task
    *     merges k rows per mapper, never its whole phrase set.
    *
    * Emits (dst_url, n_refs, n_distinct_anchors, top_anchor,
    * top_anchors) with top_anchors the '|'-joined top-k phrases in
    * (count DESC, anchor ASC) rank order. Empty/NULL anchors are
    * uncounted (they carry no text signal), and so is a NULL target. */
  def anchorStats(links: DataFrame, k: Int = 5): DataFrame =
    links
      .filter(col("dst_url").isNotNull &&
        col("anchor").isNotNull && col("anchor") =!= lit(""))
      .groupBy(col("dst_url"), col("anchor"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("dst_url"))
      .agg(sum(col("cnt")).as("n_refs"),
        count(lit(1)).as("n_distinct_anchors"),
        Skew.topK(struct((-col("cnt")).as("neg"), col("anchor")), k).as("top"))
      .select(col("dst_url"), col("n_refs"), col("n_distinct_anchors"),
        col("top")(0)("anchor").as("top_anchor"),
        array_join(col("top")("anchor"), "|").as("top_anchors"))

  /** In-degree distribution in log2 buckets — the power-law audit for a
    * crawl's link graph (a healthy web graph is Zipfian; a flat or
    * truncated histogram means the frontier is stuck in one site, a
    * heavy top bucket means hub pages that need the skew-handling
    * paths). bucket = floor(log2(degree)) computed EXACTLY as
    * length-of-binary-string − 1 (both engines render bin(x) without
    * leading zeros — no float log anywhere). Two map-side-combinable
    * aggregates; the first shuffles one row per distinct target per
    * mapper, the second one row per bucket. */
  /** Per-page link-spam signals — the webspam gate (link farms, SEO
    * doorway pages, directory spam are mostly links and little text;
    * published corpus pipelines drop them before dedup so farm pages
    * cannot become cluster keepers). Inputs: docs (url, text_len) and
    * links (src_url, is_internal). Flags are exact integer
    * cross-multiplications (the repetition/encoding convention):
    *   - link_heavy: links·50 > text chars — a link per ≤50 chars is
    *     navigation, not content,
    *   - ext_heavy: external·2 > links — majority-external pages on a
    *     link-heavy site are the farm signature (false at 0 links).
    * One map-side-combinable count per source page and one left join
    * back to the docs projection — text never moves. */
  def linkSpamScores(docs: DataFrame, links: DataFrame): DataFrame = {
    val perSrc = links.groupBy(col("src_url"))
      .agg(count(lit(1)).as("__nl"),
        sum(when(!col("is_internal"), 1L).otherwise(0L)).as("__ne"))
    docs.select(col("url"), col("text_len"))
      .join(perSrc, col("url") === col("src_url"), "left_outer")
      .select(col("url"),
        coalesce(col("__nl"), lit(0L)).as("n_links"),
        coalesce(col("__ne"), lit(0L)).as("n_external"),
        col("text_len"))
      .withColumn("link_heavy", col("n_links") * lit(50L) > col("text_len"))
      .withColumn("ext_heavy", col("n_external") * lit(2L) > col("n_links"))
  }

  def degreeHistogram(links: DataFrame, dstCol: String): DataFrame = {
    val deg = links.groupBy(col(dstCol)).agg(count(lit(1)).as("deg"))
    deg.withColumn("bucket", (length(bin(col("deg"))) - lit(1)).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_targets"),
        min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"),
        sum(col("deg")).as("total_edges"))
  }

  /**
   * Host-level link-graph collapse — the aggregation a 10^12-page graph
   * needs BEFORE any whole-graph algorithm: page-level edges collapse to
   * (src_host, dst_host) with link and distinct-page counts, shrinking the
   * edge set by ~5 orders of magnitude (10^12 page edges → the ~10^7-host
   * sparse host graph), after which [[pageRank]] / [[crawlDepth]] /
   * [[degreeHistogram]] run on a frame that fits a fraction of one
   * executor. Hosts come from the same `try_parse_url(.., 'HOST')`
   * extraction the crawl-trap detector uses (≡ the oracle's lexical
   * authority regex, proven equivalent by q_url_patterns); rows whose
   * either end has no parseable host are dropped (they cannot join a
   * host-keyed policy anyway).
   *
   * Shape: ONE map-side-combinable aggregate keyed by the host pair; the
   * two distinct-page counts ride the same agg as count(DISTINCT) — an
   * expand ×3, the price of exact reach numbers (drop them if only
   * n_links is needed at extreme scale). `is_internal` marks same-host
   * edges so the inter-host projection is a filter, not a recompute.
   *
   * links: first two columns (src_url, dst_url).
   */
  def hostGraph(links: DataFrame): DataFrame =
    links
      .select(col(links.columns(0)).as("__s"), col(links.columns(1)).as("__d"))
      .select(col("__s"), col("__d"),
        lower(expr("try_parse_url(__s, 'HOST')")).as("src_host"),
        lower(expr("try_parse_url(__d, 'HOST')")).as("dst_host"))
      .filter(col("src_host").isNotNull && col("dst_host").isNotNull)
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col("__s")).as("n_src_pages"),
        count_distinct(col("__d")).as("n_dst_pages"))
      .withColumn("is_internal", col("src_host") === col("dst_host"))

  /** Reciprocal host pairs — the link-exchange signature (two hosts
    * pointing at each other is the classic manipulation pattern the
    * page-level [[linkSpamScores]] cannot see): self-join the
    * [[hostGraph]] inter-host edges against their own reversal, keep each
    * unordered pair once (host_a < host_b). The join is host-pair-keyed —
    * on the COLLAPSED graph, so it is ~10^7-host-scale, never page-scale.
    * Emits (host_a, host_b, links_ab, links_ba). */
  def mutualHostLinks(hostEdges: DataFrame): DataFrame = {
    val e = hostEdges
      .select(col("src_host"), col("dst_host"), col("n_links"))
      .filter(col("src_host") =!= col("dst_host"))
    val r = e.select(col("dst_host").as("src_host"),
      col("src_host").as("dst_host"), col("n_links").as("__rev"))
    e.join(r, Seq("src_host", "dst_host"))
      .filter(col("src_host") < col("dst_host"))
      .select(col("src_host").as("host_a"), col("dst_host").as("host_b"),
        col("n_links").as("links_ab"), col("__rev").as("links_ba"))
  }

  /**
   * BFS crawl depth from a seed set — the hop-distance signal a frontier
   * scheduler budgets by ("crawl to depth 3 from the seed list") and the
   * graph-distance complement to [[pageRank]]'s centrality. Exact
   * min-hop distances, bounded at `maxDepth`, by frontier BFS:
   *
   *  - each wave is ONE equi-join frontier⋈edges (a (url,url) projection
   *    — payloads never enter the iteration) + a distinct + an anti-join
   *    against the settled set, all map-side-combinable/key-local;
   *  - the settled frame is re-materialized per wave through
   *    [[Checkpoints.truncate]] (the PageRank lineage discipline: eager
   *    localCheckpoint locally, reliable checkpoint under
   *    `spark.graft.checkpointDir` on a cluster);
   *  - wave count is `maxDepth`, not graph size; the anti-join guarantees
   *    a url settles at its FIRST discovery wave, which for BFS is the
   *    true minimum distance — so the crawl-depth oracle can re-derive
   *    the same table as `min(depth)` over a recursive-CTE expansion.
   *
   * edges: first two columns (src, dst); seeds: first column url.
   * Returns (url, depth) for every url within `maxDepth` hops.
   */
  def crawlDepth(edges: DataFrame, seeds: DataFrame,
                 maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0: $maxDepth")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges
      .select(col(edges.columns(0)).as("src"), col(edges.columns(1)).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    var settled = Checkpoints.truncate(
      seeds.select(col(seeds.columns(0)).as("url")).na.drop().distinct()
        .select(col("url"), lit(0).cast("int").as("depth")))
    var frontier = settled
    var d = 1
    var grew = true
    while (d <= maxDepth && grew) {
      val next = Checkpoints.truncate(
        frontier.join(e, frontier("url") === e("src"))
          .select(col("dst").as("url")).distinct()
          .join(settled, Seq("url"), "left_anti")
          .select(col("url"), lit(d).cast("int").as("depth")))
      grew = !next.isEmpty
      if (grew) {
        // no truncate on the union: every wave frame is already a
        // materialized leaf, so `settled` is a flat union of ≤ maxDepth
        // leaves — lineage cannot compound, and skipping the extra
        // localCheckpoint saves one materialization job per wave (r6;
        // maxDepth bounds the plan width by construction)
        settled = settled.union(next)
        frontier = next
      }
      d += 1
    }
    e.unpersist()
    settled
  }
}
