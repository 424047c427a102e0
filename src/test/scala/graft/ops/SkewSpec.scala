package graft.ops

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateMode, CollectTopK, Final, Partial}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.SparkTestBase

/** Skew operators: exactness vs the naive plans over a Zipfian key (one
  * host owning most rows — the crawl-scale shape), and the plan shapes
  * that keep a hot key off a single task. */
class SkewSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Zipfian link frame: hot.example.com owns 2,000 of 2,600 rows. */
  private lazy val links = {
    val hot = (0 until 2000).map(i =>
      ("hot.example.com", s"https://hot.example.com/p${i % 37}"))
    val cold = (0 until 600).map(i =>
      (s"host${i % 60}.example.com", s"https://host${i % 60}.example.com/p${i % 7}"))
    (hot ++ cold).toDF("dst_host", "dst_url")
  }

  private lazy val counts = links.groupBy($"dst_host", $"dst_url")
    .agg(count(lit(1)).as("cnt"))

  test("salted top-k per key equals the single-window top-k exactly") {
    // beside the Zipfian counts: four cnt-5 ties straddling the k = 3
    // boundary, a key with fewer than k rows, a null tie value, a null key
    val edge = Seq(
      ("tie.example.com", "https://tie.example.com/z", 9L),
      ("tie.example.com", "https://tie.example.com/d", 5L),
      ("tie.example.com", "https://tie.example.com/b", 5L),
      ("tie.example.com", "https://tie.example.com/c", 5L),
      ("tie.example.com", "https://tie.example.com/a", 5L),
      ("small.example.com", "https://small.example.com/x", 1L),
      ("nul.example.com", "https://nul.example.com/w", 7L),
      ("nul.example.com", "https://nul.example.com/y", 4L),
      ("nul.example.com", null, 4L),
      (null, "https://u.example/", 2L)).toDF("dst_host", "dst_url", "cnt")
    val input = counts.unionByName(edge)
    val got = Skew.topKRows(input, "dst_host", 3, -$"cnt", $"dst_url")
      .select($"dst_host", $"dst_url", $"cnt", $"rnk")
      .as[(String, String, Long, Int)].collect().toSet
    val w = Window.partitionBy($"dst_host").orderBy($"cnt".desc, $"dst_url".asc)
    val naive = input.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"dst_host", $"dst_url", $"cnt", $"rnk")
      .as[(String, String, Long, Int)].collect().toSet
    assert(got == naive)
    // every key emits min(k, distinct urls) rows
    assert(got.count(_._1 == "hot.example.com") == 3)
    def ranked(host: String) =
      got.filter(_._1 == host).toSeq.sortBy(_._4).map(r => (r._2, r._4))
    assert(ranked("tie.example.com") == Seq("https://tie.example.com/z" -> 1,
      "https://tie.example.com/a" -> 2, "https://tie.example.com/b" -> 3))
    assert(ranked("small.example.com") == Seq("https://small.example.com/x" -> 1))
    assert(ranked("nul.example.com") == Seq("https://nul.example.com/w" -> 1,
      (null: String) -> 2, "https://nul.example.com/y" -> 3))
    assert(ranked(null) == Seq("https://u.example/" -> 1))
  }

  private object Plans extends AdaptiveSparkPlanHelper

  test("top-k plan: a partial aggregate, one exchange, the final aggregate, " +
      "no window") {
    val df = Skew.topKRows(counts, "dst_host", 3, -$"cnt", $"dst_url")
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    assert(Plans.collect(plan) { case w: WindowExec => w }.isEmpty, plan)
    val topKs = Plans.collect(plan) { case a: ObjectHashAggregateExec
        if a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[CollectTopK]) => a }
    def inMode(m: AggregateMode) = topKs.filter(_.aggregateExpressions.forall(_.mode == m))
    assert(topKs.size == 2 && inMode(Partial).size == 1 && inMode(Final).size == 1, plan)
    def exchanges(p: SparkPlan) = Plans.collect(p) { case e: ShuffleExchangeLike => e }.size
    // exactly one exchange between the partial and the final aggregate
    assert(exchanges(inMode(Final).head) - exchanges(inMode(Partial).head) == 1, plan)
  }

  test("rangedRunningSum equals the single-partition window cumsum " +
      "exactly, and its plan range-partitions the ordered step") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 5000).map(i => (rnd.nextLong(), 1L + rnd.nextInt(9)))
      .distinctBy(_._1) // unique order keys (the documented tie contract)
    val df = rows.toDF("k", "c")
    val got = Skew.rangedRunningSum(df, $"k".asc, $"c", "cum")
      .select($"k", $"cum").as[(Long, Long)].collect().toMap
    // local model: cumsum over the sorted keys
    var acc = 0L
    val want = rows.sortBy(_._1).map { case (k, c) => acc += c; (k, acc) }.toMap
    assert(got == want)
    // descending order flavor (the allocateBudget histogram shape)
    val gotD = Skew.rangedRunningSum(df, $"k".desc, $"c", "cum")
      .select($"k", $"cum").as[(Long, Long)].collect().toMap
    var accD = 0L
    val wantD = rows.sortBy(-_._1).map { case (k, c) => accD += c; (k, accD) }.toMap
    assert(gotD == wantD)
    // the ordered step is range-partitioned, not a global no-partition
    // window over the data (only the P-row offset frame may window
    // globally)
    val plan = Skew.rangedRunningSum(df, $"k".asc, $"c", "cum")
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"),
      s"expected a range exchange in:\n$plan")
  }
}
