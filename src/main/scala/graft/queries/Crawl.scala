package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.{ExtractN, HostAuthorityRegex, PoisonN, extractedPersisted, side, t}
import graft.ops.{Frontier, Priority}
import graft.pipeline.{Extract, PagesGen}
import graft.sources.Sitemap

/** The crawl domain: queries over `Frontier`, `Priority` and `Sitemap` —
  * the frontier of the shared extraction pass with its robots gate and
  * schedule, budgets, trap families, host demotion, seeds and priorities. */
object Crawl {

  /** Crawl identity for q_robots_filter; its lowered product token
    * ("graftbot") is a LITERAL in the DuckDB oracle — keep in sync. */
  private[graft] val RobotsAgent = "GraftBot/1.0 (+https://graft.example/bot)"

  /** The crawl frontier of the shared pass: its distinct link destinations
    * (`url`) with an md5-derived deterministic `priority_score` in
    * [0, 1000). A reader that never reads the score prunes it away. */
  private def frontierView(s: SparkSession): DataFrame =
    Extract.linkRows(extractedPersisted(s)).select(col("dst_url").as("url"))
      .distinct()
      .withColumn("priority_score",
        pmod(conv(substring(md5(col("url")), 1, 8), 16, 10).cast("long"),
          lit(1000L)).cast("int"))

  /** The synthetic robots corpus over the frontier's hosts (the same
    * `try_parse_url` host [[graft.ops.Frontier.frontierPaths]] derives). */
  private def frontierRobots(s: SparkSession): DataFrame =
    Frontier.syntheticRobots(
      frontierView(s).select(expr("try_parse_url(url, 'HOST')").as("host")))

  /** The robots oracles' common head: the side_rb_* parse layer, the entry
    * each host selects for "graftbot" (`sel`) and each url's first
    * matching rule (`fm`). q_robots_filter and q_crawl_plan continue it. */
  private val RobotsSelectionCtes: String =
    s"""WITH f AS (SELECT url, match_path, host FROM ${side("side_rb_frontier")}),
       |h AS (SELECT host, status, parse_failed FROM ${side("side_rb_hosts")}),
       |e AS (SELECT host, entry_seq, delay_s, rate_req, rate_secs
       |      FROM ${side("side_rb_entries")}),
       |a AS (SELECT host, entry_seq, agent_lower FROM ${side("side_rb_agents")}),
       |r AS (SELECT host, entry_seq, rule_seq, prefix, is_allow FROM ${side("side_rb_rules")}),
       |spec AS (SELECT host, min(entry_seq) AS es FROM a
       |         WHERE entry_seq >= 0
       |           AND (agent_lower = '*' OR contains('graftbot', agent_lower))
       |         GROUP BY host),
       |dflt AS (SELECT DISTINCT host, -1 AS es FROM e WHERE entry_seq = -1),
       |sel AS (SELECT h.host, coalesce(s.es, d.es) AS es
       |        FROM h LEFT JOIN spec s ON h.host = s.host
       |               LEFT JOIN dflt d ON h.host = d.host),
       |fm AS (SELECT f.url, min(r.rule_seq) AS rs
       |       FROM f JOIN sel ON f.host = sel.host
       |            JOIN r ON r.host = f.host AND r.entry_seq = sel.es
       |       WHERE r.prefix = '*' OR starts_with(f.match_path, r.prefix)
       |       GROUP BY f.url)""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q_frontier_schedule", (s, _) => {
      // politeness plan over the REAL extracted frontier (distinct link
      // destinations): md5-derived deterministic priorities, 5 workers
      // (the reference's --max_workers), 3000 ms (its --initial_delay)
      Frontier.politenessSchedule(frontierView(s), numWorkers = 5,
        delayMs = 3000L)
    },
      // worker = md5-mod of host, fetch_seq = per-host priority window,
      // est_start = exact integer wave arithmetic — the whole schedule
      // re-derived from raw side_links rows (host via the lexical
      // HostAuthorityRegex)
      s"""WITH f AS (SELECT DISTINCT dst_url AS url FROM ${side("side_links")}),
         |p AS (SELECT url,
         |    CAST(CAST('0x' || substr(md5(url), 1, 8) AS BIGINT) % 1000 AS INT)
         |      AS pr,
         |    NULLIF(regexp_extract(url, '$HostAuthorityRegex', 1), '') AS host
         |  FROM f),
         |w AS (SELECT url, host, pr,
         |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY pr DESC, url)
         |      AS fetch_seq
         |  FROM p)
         |SELECT url, host,
         |  CAST(CAST('0x' || substr(md5('host:' || host), 1, 8) AS BIGINT) % 5
         |    AS INT) AS worker,
         |  fetch_seq, (fetch_seq - 1) * 3000 AS est_start_ms
         |FROM w""".stripMargin),
    Query("q_robots_filter", (s, _) =>
      // robots gate over the REAL extracted frontier against a
      // deterministic synthetic robots corpus (one md5-assigned template
      // per host — all 8 decision branches represented); the oracle
      // re-derives agent→entry selection, the first-match prefix scan,
      // and the read()-status flags relationally from the parsed tables
      Frontier.robotsFilter(frontierView(s), frontierRobots(s), RobotsAgent),
      // the parse layer (side_rb_* tables + match_path) is the
      // CPython-fuzz-pinned input; DuckDB independently re-derives entry
      // selection (substring agent match, min file-order, default
      // fallback), the first-match prefix scan, the read()-status flags,
      // the decision taxonomy, and the crawl-delay projection
      s"""$RobotsSelectionCtes
         |SELECT f.url, f.host, f.match_path,
         |  CASE WHEN h.host IS NULL THEN TRUE
         |       WHEN h.parse_failed THEN FALSE
         |       WHEN h.status IN (401, 403) THEN FALSE
         |       WHEN h.status >= 400 AND h.status < 500 THEN TRUE
         |       WHEN h.status >= 500 THEN FALSE
         |       WHEN sel.es IS NULL THEN TRUE
         |       WHEN fm.rs IS NOT NULL THEN mr.is_allow
         |       ELSE TRUE END AS allowed,
         |  CASE WHEN h.host IS NULL THEN 'no_robots'
         |       WHEN h.parse_failed THEN 'parse_failed'
         |       WHEN h.status IN (401, 403) THEN 'disallow_all'
         |       WHEN h.status >= 400 AND h.status < 500 THEN 'allow_all'
         |       WHEN h.status >= 500 THEN 'unread'
         |       WHEN sel.es IS NULL THEN 'no_entry'
         |       WHEN fm.rs IS NOT NULL THEN 'rule'
         |       ELSE 'entry_default' END AS decision,
         |  CASE WHEN h.host IS NOT NULL AND NOT h.parse_failed
         |        AND h.status < 400 AND sel.es IS NOT NULL
         |       THEN ed.delay_s END AS crawl_delay_s,
         |  CASE WHEN h.host IS NOT NULL AND NOT h.parse_failed
         |        AND h.status < 400 AND sel.es IS NOT NULL
         |       THEN ed.rate_req END AS rate_req,
         |  CASE WHEN h.host IS NOT NULL AND NOT h.parse_failed
         |        AND h.status < 400 AND sel.es IS NOT NULL
         |       THEN ed.rate_secs END AS rate_secs
         |FROM f
         |LEFT JOIN h ON f.host = h.host
         |LEFT JOIN sel ON f.host = sel.host
         |LEFT JOIN fm ON f.url = fm.url
         |LEFT JOIN r mr ON mr.host = f.host AND mr.entry_seq = sel.es
         |                AND mr.rule_seq = fm.rs
         |LEFT JOIN e ed ON ed.host = f.host AND ed.entry_seq = sel.es""".stripMargin),
    Query("q_crawl_plan", (s, _) =>
      // the composed pre-fetch plan: robots gate -> per-host clamped
      // crawl-delay -> politeness schedule, over the real extracted
      // frontier; the oracle composes the q_robots_filter and
      // q_frontier_schedule derivations end-to-end
      Frontier.crawlPlan(frontierView(s), frontierRobots(s), RobotsAgent),
      // q_robots_filter's allowed/delay derivation composed with
      // q_frontier_schedule's worker/wave arithmetic, end to end in one
      // DuckDB statement over the same side tables
      s"""$RobotsSelectionCtes,
         |dec AS (SELECT f.url, f.host,
         |    CASE WHEN h.host IS NULL THEN TRUE
         |         WHEN h.parse_failed THEN FALSE
         |         WHEN h.status IN (401, 403) THEN FALSE
         |         WHEN h.status >= 400 AND h.status < 500 THEN TRUE
         |         WHEN h.status >= 500 THEN FALSE
         |         WHEN sel.es IS NULL THEN TRUE
         |         WHEN fm.rs IS NOT NULL THEN mr.is_allow
         |         ELSE TRUE END AS allowed,
         |    CASE WHEN h.host IS NOT NULL AND NOT h.parse_failed
         |          AND h.status < 400 AND sel.es IS NOT NULL
         |         THEN ed.delay_s END AS delay_s,
         |    CASE WHEN h.host IS NOT NULL AND NOT h.parse_failed
         |          AND h.status < 400 AND sel.es IS NOT NULL
         |          AND ed.rate_req > 0
         |         THEN CASE
         |           WHEN ed.rate_secs // ed.rate_req >= 5 THEN 5000
         |           WHEN ed.rate_req > 1000000000000000
         |             THEN ed.rate_secs // (ed.rate_req // 1000)
         |           ELSE (ed.rate_secs * 1000 + ed.rate_req - 1) // ed.rate_req
         |         END
         |    END AS rate_ms
         |  FROM f
         |  LEFT JOIN h ON f.host = h.host
         |  LEFT JOIN sel ON f.host = sel.host
         |  LEFT JOIN fm ON f.url = fm.url
         |  LEFT JOIN r mr ON mr.host = f.host AND mr.entry_seq = sel.es
         |                  AND mr.rule_seq = fm.rs
         |  LEFT JOIN e ed ON ed.host = f.host AND ed.entry_seq = sel.es),
         |al AS (SELECT url, host,
         |    CASE WHEN delay_s IS NULL AND rate_ms IS NULL THEN 3000
         |         ELSE least(greatest(greatest(
         |                CASE WHEN delay_s IS NULL THEN NULL
         |                     ELSE least(delay_s, 5) * 1000 END, rate_ms), 500),
         |                    5000) END AS delay_ms,
         |    CAST(CAST('0x' || substr(md5(url), 1, 8) AS BIGINT) % 1000 AS INT)
         |      AS pr
         |  FROM dec WHERE allowed),
         |w AS (SELECT url, host, delay_ms,
         |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY pr DESC, url)
         |      AS fetch_seq
         |  FROM al)
         |SELECT url, host,
         |  CAST(CAST('0x' || substr(md5('host:' || host), 1, 8) AS BIGINT) % 5
         |    AS INT) AS worker,
         |  fetch_seq, delay_ms, (fetch_seq - 1) * delay_ms AS est_start_ms
         |FROM w""".stripMargin),
    Query("q_crawl_budget", (s, dir) => {
      // largest-remainder allocation of a 137-page budget across sources;
      // prime budget forces nonzero remainders and a leftover
      Frontier.allocateBudget(
        t(s, dir, "documents").groupBy(col("source"))
          .agg(count(lit(1)).as("n_pages")),
        budget = 137L)
    },
      // the largest-remainder method re-derived: integer floor + mod,
      // leftover scalar, distinct-remainder above-counts, per-tie
      // row_number by host
      """WITH h AS (SELECT source AS host, CAST(count(*) AS BIGINT) AS n_pages
        |           FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_pages) AS BIGINT) AS N FROM h),
        |b AS (SELECT host, n_pages, (137 * n_pages) // N AS fl,
        |        (137 * n_pages) % N AS rem
        |      FROM h, t),
        |lo AS (SELECT 137 - CAST(sum(fl) AS BIGINT) AS L FROM b),
        |hist AS (SELECT rem, count(*) AS cnt FROM b GROUP BY 1),
        |ab AS (SELECT rem, coalesce(sum(cnt) OVER (ORDER BY rem DESC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         AS above
        |       FROM hist),
        |rn AS (SELECT b.host, b.n_pages, b.fl, ab.above,
        |         row_number() OVER (PARTITION BY b.rem ORDER BY b.host)
        |           AS rn
        |       FROM b JOIN ab ON b.rem = ab.rem)
        |SELECT host, n_pages,
        |  CAST(fl + CASE WHEN above + rn <= (SELECT L FROM lo)
        |                 THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM rn""".stripMargin),
    Query("q_url_patterns", (s, _) =>
      // crawl-trap families over the DISTINCT extracted link targets;
      // the oracle re-runs the template collapse (same regexes, 'g')
      // and host extraction over side_links
      Frontier.urlPatternFamilies(frontierView(s), "url",
        trapThreshold = 20L),
      // same template collapse: hex→H, digits→N, query values→V, fixed
      // order, 'g' flag (Spark replaces all by default); host via the
      // established lexical authority extraction
      s"""WITH u AS (SELECT DISTINCT dst_url AS u FROM ${side("side_links")}),
         |p AS (SELECT u,
         |  lower(NULLIF(regexp_extract(u,
         |    '$HostAuthorityRegex',
         |    1), '')) AS host,
         |  regexp_replace(regexp_replace(regexp_replace(lower(u),
         |    '[0-9a-f]{8,}', 'H', 'g'), '[0-9]+', 'N', 'g'),
         |    '=[^&#]*', '=V', 'g') AS pattern
         |  FROM u)
         |SELECT host, pattern, count(*) AS n_urls, min(u) AS sample_url,
         |       count(*) > 20 AS is_trap
         |FROM p GROUP BY 1, 2""".stripMargin),
    Query("q_host_demote", (s, _) => {
      // failure taxonomy → next-plan feedback: the poisoned corpus's
      // all-failing host must demote, every healthy host must not; the
      // oracle re-derives failures from the INPUT structure (side_poison)
      val docs = Extract.extract(PagesGen.poisonedPages(s, PoisonN))
        .select(col("doc.*"))
        .select(col("url"),
          col("failure_class").isNotNull.cast("long").as("failed"))
      Frontier.demoteFailingHosts(docs, "url", "failed",
        maxFailedNum = 1, maxFailedDen = 5)
    },
      // failures re-derived from input structure (no-payload rows are the
      // only failures in this corpus — q_failure_classes pins that);
      // hosts via the lexical authority regex; exact cross-multiply fence
      s"""WITH p AS (SELECT url,
         |    CASE WHEN has_payload THEN 0 ELSE 1 END AS f
         |  FROM ${side("side_poison")} WHERE url IS NOT NULL),
         |h AS (SELECT lower(NULLIF(regexp_extract(url,
         |    '$HostAuthorityRegex',
         |    1), '')) AS host, f
         |  FROM p)
         |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(f) AS BIGINT) AS n_failed,
         |  sum(f) * 5 > count(*) * 1 AS demoted
         |FROM h WHERE host IS NOT NULL GROUP BY 1""".stripMargin),
    Query("q_sitemap_seeds", (s, _) =>
      Sitemap.seedUrls(
        Sitemap.syntheticSitemapPages(s),
        "https://site.example.com/sitemap.xml"),
      // closed-world sitemapindex recursion re-derived via WITH RECURSIVE
      s"""WITH RECURSIVE reach(u) AS (
         |  SELECT 'https://site.example.com/sitemap.xml'
         |  UNION
         |  SELECT sm.loc FROM ${side("side_sitemap")} sm, reach
         |  WHERE sm.url = reach.u AND sm.kind = 'sitemapindex')
         |SELECT DISTINCT sm.loc AS seed_url
         |FROM ${side("side_sitemap")} sm JOIN reach ON sm.url = reach.u
         |WHERE sm.kind = 'urlset'""".stripMargin),
    Query("q_priority_scores", (s, _) => {
      import s.implicits._
      // history = the synthetic crawl snapshots; 'now' = newest + 1h
      val hist = PagesGen.pages(s, ExtractN)
        .select($"url", $"warc_ts".as("last_updated"))
      val asOf = hist.agg(max(unix_timestamp($"last_updated").cast("double")))
        .head().getDouble(0) + 3600.0
      val perUrl = hist.groupBy($"url").agg(count(lit(1)).as("n"),
        max(unix_timestamp($"last_updated").cast("double")).as("maxe"))
      // hash_info analog: last_modified known only for re-crawled urls
      val candidates = perUrl.select($"url",
        $"url".rlike("page[0-9]*0\\.html$").as("is_pagination"),
        when($"n" >= 2, $"maxe").otherwise(lit(null)).as("last_modified_epoch"))
      Priority.scores(candidates, hist, asOf)
    },
      // the ENTIRE calculate_priority formula re-derived in SQL over the
      // raw (url, last_updated) history side table
      s"""WITH h AS (SELECT url, CAST(epoch(last_updated) AS DOUBLE) AS e
         |           FROM ${side("side_pages")}),
         |params AS (SELECT max(e) + 3600 AS as_of FROM h),
         |agg AS (SELECT url, count(*) AS n, max(e) AS maxe FROM h GROUP BY url),
         |freq AS (SELECT url, CAST(count(*) AS DOUBLE) /
         |           (((SELECT as_of FROM params) - max(e)) / 86400.0 + 1.0) AS uf
         |         FROM h WHERE e > (SELECT as_of FROM params) - 2592000 GROUP BY url),
         |cand AS (SELECT a.url,
         |           regexp_matches(a.url, 'page[0-9]*0\\.html$$') AS is_pagination,
         |           CASE WHEN a.n >= 2 THEN a.maxe ELSE NULL END AS lm,
         |           coalesce(f.uf, CAST(0 AS DOUBLE)) AS uf
         |         FROM agg a LEFT JOIN freq f ON a.url = f.url),
         |scored AS (SELECT url, is_pagination, uf,
         |    CASE WHEN lm IS NULL THEN CAST(1 AS DOUBLE)
         |         ELSE CAST(1 AS DOUBLE) /
         |              (1.0 + ((SELECT as_of FROM params) - lm) / 86400.0) END AS fresh,
         |    CAST(1 AS DOUBLE) / (1.0 + CAST(len(string_split(
         |      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
         |      '/')) - 1 AS DOUBLE)) AS ds,
         |    least(CAST(
         |        (CASE WHEN contains(lower(url), 'important') THEN 1 ELSE 0 END +
         |         CASE WHEN contains(lower(url), 'critical') THEN 1 ELSE 0 END +
         |         CASE WHEN contains(lower(url), 'update') THEN 1 ELSE 0 END +
         |         CASE WHEN contains(lower(url), 'new') THEN 1 ELSE 0 END) AS DOUBLE) / 4.0,
         |      CAST(1 AS DOUBLE)) AS rs
         |  FROM cand)
         |SELECT url, is_pagination,
         |  round(uf, 6) AS update_frequency,
         |  round(fresh, 6) AS freshness_score,
         |  round(ds, 6) AS depth_score,
         |  round(rs, 6) AS relevance_score,
         |  round(CASE WHEN is_pagination
         |    THEN (1.0 + least(uf / 10.0, CAST(1 AS DOUBLE)) * 0.3 + fresh * 0.3 +
         |          ds * 0.2 + rs * 0.2) * 1.5
         |    ELSE 1.0 + least(uf / 10.0, CAST(1 AS DOUBLE)) * 0.3 + fresh * 0.3 +
         |         ds * 0.2 + rs * 0.2 END, 6) AS priority
         |FROM scored""".stripMargin)
  )
}
