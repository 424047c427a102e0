package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Extract, SparkTestBase}

/** VERDICT r02 wrong #2 / next #4: every extraction-backed query shares
  * ONE persisted extraction pass — the corpus is parsed exactly once per
  * session no matter how many of these queries run. */
class SharedExtractionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("five extraction queries, one extraction pass (call-counter pinned)") {
    // materialize (or reuse) the session's shared pass once...
    SparkEntry.queries("q_extract_docs")(spark, "/unused").count()
    val before = Extract.extractCalls.sum()
    // ...then ALL extraction-backed queries must hit the cache: zero new
    // extractPage calls across the full set
    Seq("q_extract_docs", "q_extract_links", "q_extract_meta",
        "q_link_report", "q_canonical_groups", "q_pagerank", "q_skew_topk",
        "q_degree_histogram", "q_host_graph", "q_crawl_depth",
        "q_link_spam").foreach { q =>
      SparkEntry.queries(q)(spark, "/unused").count()
    }
    val calls = Extract.extractCalls.sum() - before
    assert(calls == 0,
      s"extraction re-ran: $calls extractPage calls after the shared pass was warm")
  }
}
