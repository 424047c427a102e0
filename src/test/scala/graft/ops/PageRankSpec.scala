package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.SparkTestBase
import org.apache.spark.sql.graftbridge.CacheEntries

/** LinkGraph.pageRank: differential-gated against an independent local
  * reference implementation of damped PageRank (same semantics, naive
  * Map-based math), plus the analytic invariants — ranks sum to 1 every
  * iteration because dangling mass is redistributed, hubs outrank leaves,
  * and input hygiene (self-loops, duplicate edges, nulls) is applied.
  * Every case runs on both branches, through the package-private
  * overload that takes the driver-finish budget: the driver finish and
  * the checkpointed distributed loop (`localFinishEdges` = 0). */
class PageRankSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Independent reference: naive damped PageRank over the simple graph. */
  private def localPageRank(edges: Seq[(String, String)], iters: Int,
                            d: Double): Map[String, Double] = {
    val e = edges.filter { case (a, b) => a != b }.distinct
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val n = nodes.size.toDouble
    val out = e.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    val in = e.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(out.contains).map(r).sum
      r = nodes.map { v =>
        val c = in.getOrElse(v, Nil).map(s => r(s) / out(s)).sum
        v -> ((1.0 - d) / n + d * (c + dang / n))
      }.toMap
    }
    r
  }

  /** (branch name, localFinishEdges): 1M finishes these small graphs on
    * the driver; 0 forces the distributed loop. */
  private val branches = Seq("local" -> 1_000_000L, "distributed" -> 0L)

  /** Registers `name` on the driver finish and `name (distributed loop)`
    * on the forced-distributed branch; `body` gets the budget. */
  private def onBothBranches(name: String)(body: Long => Unit): Unit = {
    test(name)(body(branches(0)._2))
    test(s"$name (distributed loop)")(body(branches(1)._2))
  }

  private def run(edges: Seq[(String, String)], iters: Int,
                  localFinishEdges: Long): Map[String, Double] =
    LinkGraph.pageRank(edges.toDF("src_url", "dst_url"), iters, 0.85, localFinishEdges)
      .as[(String, Double)].collect().toMap

  /** b and c both point at d (hub); d is dangling; a self-loop and a
    * duplicate edge must be ignored — 5 distinct simple edges. */
  private val hand = Seq(
    "a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d", "a" -> "d",
    "a" -> "d", // duplicate
    "b" -> "b") // self-loop

  onBothBranches("matches the local reference on a hand graph with dangling + hub") { budget =>
    val got = run(hand, 3, budget)
    val want = localPageRank(hand, 3, 0.85)
    assert(got.keySet == want.keySet)
    got.foreach { case (u, r) =>
      assert(math.abs(r - want(u)) < 1e-12, s"$u: $r vs ${want(u)}")
    }
    // the hub d (3 in-links) outranks every leaf
    assert(got("d") > got("b") && got("d") > got("c") && got("d") > got("a"))
  }

  test("the budget is inclusive: E edges finish locally at E, distribute at E-1") {
    def leaves(budget: Long): Seq[String] =
      LinkGraph.pageRank(hand.toDF("src_url", "dst_url"), 3, 0.85, budget)
        .queryExecution.optimizedPlan.collectLeaves().map(_.getClass.getSimpleName)
    assert(leaves(5L) == Seq("LocalRelation"), leaves(5L))
    assert(leaves(4L) == Seq("LogicalRDD"), leaves(4L))
    val want = localPageRank(hand, 3, 0.85)
    for (budget <- Seq(5L, 4L); (u, r) <- run(hand, 3, budget))
      assert(math.abs(r - want(u)) < 1e-12, s"budget=$budget $u: $r vs ${want(u)}")
  }

  test("neither branch leaves a cache entry behind") {
    for ((branch, budget) <- branches) {
      val before = CacheEntries(spark)
      run(hand, 2, budget)
      assert(CacheEntries(spark) == before, branch)
    }
  }

  onBothBranches("matches the local reference on a 60-node pseudo-random graph") { budget =>
    // deterministic LCG — no Random, no wall clock
    var x = 12345L
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); x }
    val edges = (0 until 400).map { _ =>
      val s = math.floorMod(next(), 60)
      val t = math.floorMod(next(), 60)
      (s"u$s", s"u$t")
    }.filter { case (a, b) => a != b }
    for (iters <- Seq(0, 1, 4)) {
      val got = run(edges, iters, budget)
      val want = localPageRank(edges, iters, 0.85)
      assert(got.keySet == want.keySet)
      got.foreach { case (u, r) =>
        assert(math.abs(r - want(u)) < 1e-12, s"iters=$iters $u: $r vs ${want(u)}")
      }
      // dangling redistribution keeps total mass at exactly 1
      assert(math.abs(got.values.sum - 1.0) < 1e-9, s"iters=$iters sum")
    }
  }

  onBothBranches("empty edge set returns an empty (url, rank) frame") { budget =>
    val out = LinkGraph.pageRank(
      Seq.empty[(String, String)].toDF("src_url", "dst_url"), 3, 0.85, budget)
    assert(out.columns.toSeq == Seq("url", "rank"))
    assert(out.count() == 0)
  }

  onBothBranches("null endpoints are dropped, not propagated") { budget =>
    val edges = Seq(("a", "b"), ("a", null), (null, "b"))
      .toDF("src_url", "dst_url")
    val got = LinkGraph.pageRank(edges, 2, 0.85, budget)
      .as[(String, Double)].collect().toMap
    assert(got.keySet == Set("a", "b"))
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
    val want = localPageRank(Seq("a" -> "b"), 2, 0.85)
    got.foreach { case (u, r) => assert(math.abs(r - want(u)) < 1e-12, u) }
  }
}
