package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.SparkTestBase
import graft.url.RobotsTxt

/** Frontier.robotsFilter: the distributed gate must agree row-for-row with
  * direct RobotsTxt.canFetch/crawlDelay evaluation (the fuzz-pinned local
  * reference), across every decision branch of the synthetic corpus, and
  * keep failure isolation (one crash-parity body never kills the job). */
class RobotsFilterSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Agent = "GraftBot/1.0 (+https://graft.example/bot)"

  test("robotsFilter agrees with direct RobotsTxt evaluation per url") {
    // hosts spanning all 8 synthetic templates + one url with no robots row
    val hosts = (0 until 40).map(i => s"host$i.example.com")
    val urls = hosts.flatMap { h =>
      Seq(s"https://$h/docs/page1.html", s"https://$h/docs/page12.html",
        s"https://$h/docs/page2.html", s"https://$h/docs/page34.html",
        s"https://$h/assets/site.css", s"https://$h/")
    } ++ Seq("https://norobots.example.org/x.html")
    val frontier = urls.toDF("url")
    val robots = Frontier.syntheticRobots(
      hosts.toDF("host"), "host").persist()
    val got = Frontier.robotsFilter(frontier, robots, Agent)
      .collect().map(r => r.getString(0) ->
        (r.getBoolean(3), r.getString(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)))).toMap

    // local reference: parse each host's body directly
    val byHost = robots.as[(String, Int, String)].collect()
      .map { case (h, st, b) => h -> ((st, b)) }.toMap
    var decisions = Set.empty[String]
    urls.foreach { u =>
      val h = u.split("/")(2)
      val (allowed, decision, delay) = got(u)
      decisions += decision
      byHost.get(h) match {
        case None =>
          assert(allowed && decision == "no_robots" && delay.isEmpty, u)
        case Some((st, b)) =>
          util.Try(RobotsTxt.fromStatus(st, b)) match {
            case scala.util.Failure(_) =>
              assert(!allowed && decision == "parse_failed" && delay.isEmpty, u)
            case scala.util.Success(r) =>
              assert(allowed == RobotsTxt.canFetch(r, Agent, u),
                s"$u: allowed=$allowed decision=$decision")
              assert(delay == RobotsTxt.crawlDelay(r, Agent), s"$u delay")
          }
      }
    }
    // every branch of the decision taxonomy is exercised
    assert(decisions == Set("no_robots", "parse_failed", "disallow_all",
      "allow_all", "unread", "no_entry", "rule", "entry_default"), decisions)
    robots.unpersist()
  }

  test("template semantics: substring agents, unicode delay, allow-first") {
    val robots = Frontier.syntheticRobots(
      (0 until 64).map(i => s"h$i.e.com").toDF("host"), "host")
    val rows = robots.as[(String, Int, String)].collect()
    // at least one host per template family landed
    assert(rows.map(_._2).toSet == Set(200, 403, 404, 500))
    val t1 = rows.find(_._3.contains("Crawl-delay: ٥")).get
    val r1 = RobotsTxt.parse(t1._3)
    assert(RobotsTxt.crawlDelay(r1, Agent).contains(5L)) // int("٥") == 5
    val t7 = rows.find(_._3.startsWith("User-agent: bot")).get
    val r7 = RobotsTxt.parse(t7._3)
    // "bot" is a SUBSTRING of "graftbot" -> the specific group applies
    assert(!RobotsTxt.canFetch(r7, Agent, s"https://${t7._1}/docs/page2.html"))
    assert(RobotsTxt.canFetch(r7, Agent, s"https://${t7._1}/docs/page9.html"))
    val t0 = rows.find(_._3.startsWith("User-agent: GraftBot")).get
    val r0 = RobotsTxt.parse(t0._3)
    // Allow listed before Disallow: first match wins for page12*
    assert(RobotsTxt.canFetch(r0, Agent, s"https://${t0._1}/docs/page12.html"))
    assert(!RobotsTxt.canFetch(r0, Agent, s"https://${t0._1}/docs/page13.html"))
  }

  test("crawlPlan: gate + per-host clamped delay + waves compose") {
    import org.apache.spark.sql.Row
    val robots = Seq(
      // crawl-delay 2s -> 2000ms; disallows /docs/no
      ("a.com", 200, "User-agent: *\nDisallow: /docs/no\nCrawl-delay: 2\n"),
      // no delay -> default 3000ms
      ("b.com", 200, "User-agent: *\nDisallow: /x\n"),
      // delay 3600s -> clamped to the 5000ms limiter ceiling
      ("c.com", 200, "User-agent: *\nCrawl-delay: 3600\n"),
      // deny-all host: nothing survives the gate
      ("d.com", 403, ""),
      // request-rate only: 1 fetch / 8 s -> 8000 ms -> ceiling 5000
      ("e.com", 200, "User-agent: *\nRequest-rate: 1/8\n"),
      // both constraints: max(1000, ceil(10000/3)=3334) = 3334
      ("f.com", 200, "User-agent: *\nCrawl-delay: 1\nRequest-rate: 3/10\n"),
      // degenerate 0/0 rate is ignored (guarded division), delay wins
      ("g.com", 200, "User-agent: *\nCrawl-delay: 2\nRequest-rate: 0/0\n"))
      .toDF("host", "status", "body")
    val frontier = Seq(
      ("https://a.com/docs/ok1", 10), ("https://a.com/docs/ok2", 20),
      ("https://a.com/docs/no", 99), ("https://b.com/y", 5),
      ("https://c.com/z", 1), ("https://d.com/never", 7),
      ("https://e.com/r", 1), ("https://f.com/r", 1), ("https://g.com/r", 1),
      ("https://nobots.com/q", 3)).toDF("url", "priority_score")
    val plan = Frontier.crawlPlan(frontier, robots, Agent)
      .collect().map(r => r.getString(0) ->
        ((r.getInt(3), r.getLong(4), r.getLong(5)))).toMap
    assert(!plan.contains("https://a.com/docs/no")) // rule-denied
    assert(!plan.contains("https://d.com/never")) // disallow_all
    assert(plan("https://nobots.com/q") == ((1, 3000L, 0L))) // no robots row
    assert(plan("https://b.com/y") == ((1, 3000L, 0L))) // no delay -> default
    assert(plan("https://c.com/z") == ((1, 5000L, 0L))) // 3600s -> ceiling
    assert(plan("https://e.com/r") == ((1, 5000L, 0L))) // rate 1/8 -> ceiling
    assert(plan("https://f.com/r") == ((1, 3334L, 0L))) // max(1000, ceil(10000/3))
    assert(plan("https://g.com/r") == ((1, 2000L, 0L))) // 0/0 rate ignored
    // a.com: priority 20 fetched first, 2s robots delay paces wave 2
    assert(plan("https://a.com/docs/ok2") == ((1, 2000L, 0L)))
    assert(plan("https://a.com/docs/ok1") == ((2, 2000L, 2000L)))
  }

  test("crawlPlan: hostile huge pacing directives saturate, never overflow-throw") {
    // parseable by robotparser (and the port), but crawl_delay_s*1000 /
    // rate_secs*1000 would ARITHMETIC_OVERFLOW under ANSI — one hostile
    // robots.txt must never kill the plan job (per-host isolation)
    val robots = Seq(
      ("h1.com", 200, "User-agent: *\nCrawl-delay: 10000000000000000\n"),
      ("h2.com", 200, "User-agent: *\nRequest-rate: 1/10000000000000000\n"),
      // huge denominator: ~0 ms pacing, floor-clamped to 500
      ("h3.com", 200, "User-agent: *\nRequest-rate: 9000000000000000000/5\n"))
      .toDF("host", "status", "body")
    val frontier = Seq(("https://h1.com/a", 1), ("https://h2.com/a", 1),
      ("https://h3.com/a", 1)).toDF("url", "priority_score")
    val plan = Frontier.crawlPlan(frontier, robots, Agent)
      .collect().map(r => r.getString(1) -> r.getLong(4)).toMap
    assert(plan("h1.com") == 5000L) // 1e16 s saturates the ceiling
    assert(plan("h2.com") == 5000L) // 1e16 s per request saturates too
    assert(plan("h3.com") == 500L)  // ~0.0000006 ms pacing floors at 500
  }

  test("a null url is kept: no_robots in the gate, NULL host and worker in the plan") {
    val robots = Seq(("a.com", 200, "User-agent: *\nDisallow: /no\n"))
      .toDF("host", "status", "body")
    val frontier = Seq(("https://a.com/yes", 2), (null, 1))
      .toDF("url", "priority_score")
    val gate = Frontier.robotsFilter(frontier, robots, Agent)
      .filter($"url".isNull).collect()
    assert(gate.length == 1)
    assert(gate.head.isNullAt(1) && gate.head.isNullAt(2)) // host, match_path
    assert(gate.head.getBoolean(3) && gate.head.getString(4) == "no_robots")
    val plan = Frontier.crawlPlan(frontier, robots, Agent)
      .filter($"url".isNull).collect()
    assert(plan.length == 1)
    assert(plan.head.isNullAt(1) && plan.head.isNullAt(2)) // host, worker
    assert(plan.head.getInt(3) == 1 && plan.head.getLong(4) == 3000L)
  }

  test("crawlPlan gives one plan row per allowed frontier row") {
    val robots = Seq(("a.com", 200, "User-agent: *\nDisallow: /no\n"))
      .toDF("host", "status", "body")
    val frontier = Seq(("https://a.com/x", 5), ("https://a.com/x", 5),
      ("https://a.com/no", 9)).toDF("url", "priority_score")
    val plan = Frontier.crawlPlan(frontier, robots, Agent).collect()
    assert(plan.map(_.getString(0)).toSeq == Seq("https://a.com/x", "https://a.com/x"))
    assert(plan.map(_.getInt(3)).sorted.toSeq == Seq(1, 2)) // fetch_seq
  }

  test("parsed-structure export is consistent with the policy reduction") {
    val hosts = (0 until 32).map(i => s"host$i.example.com").toDF("host")
    val robots = Frontier.syntheticRobots(hosts, "host").persist()
    val (entries, agents, rules) = Frontier.robotsParsedTables(robots)
    val pol = Frontier.hostPolicies(robots, Agent)
    // every host with has_entry=true must have entry rows; parse_failed none
    val withEntry = pol.filter($"has_entry").select($"host").as[String].collect().toSet
    val entryHosts = entries.select($"host").distinct().as[String].collect().toSet
    assert(withEntry.subsetOf(entryHosts))
    val failed = pol.filter($"parse_failed").select($"host").as[String].collect().toSet
    assert(failed.nonEmpty && failed.intersect(entryHosts).isEmpty)
    // rule columns and ordering shape
    val rcols = rules.columns.toSeq
    assert(rcols == Seq("host", "entry_seq", "rule_seq", "prefix", "is_allow"))
    assert(agents.columns.toSeq == Seq("host", "entry_seq", "agent_lower"))
    robots.unpersist()
  }
}
