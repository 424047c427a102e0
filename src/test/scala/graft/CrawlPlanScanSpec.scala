package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import graft.pipeline.SparkTestBase

/** q_crawl_plan reads the frontier once: its executed plan aggregates the
  * url-keyed frontier distinct over the shared pass once, as
  * q_robots_filter's does. */
class CrawlPlanScanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private object Plans extends AdaptiveSparkPlanHelper

  /** The AQE-final plan of `df` after an action (query stages included
    * by [[Plans]]; a reused exchange is a leaf, so it is not recounted). */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
  }

  /** Final-mode aggregates grouped by `url` alone: one per frontier
    * distinct that runs (its partial half sits below the exchange). */
  private def urlDistincts(query: String): Int = {
    val plan = finalPlan(SparkEntry.queries(query)(spark, "/unused"))
    Plans.collect(plan) { case a: HashAggregateExec
        if a.requiredChildDistributionExpressions.isDefined &&
          a.groupingExpressions.collect { case e: NamedExpression => e.name } ==
            Seq("url") => a }.size
  }

  test("q_crawl_plan aggregates the frontier distinct once, like q_robots_filter") {
    assert(urlDistincts("q_robots_filter") == 1)
    assert(urlDistincts("q_crawl_plan") == 1)
  }
}
