package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/**
 * Explicit skew handling for the two shapes AQE cannot re-plan. Web
 * link/host keys are Zipfian — one popular host can own a double-digit
 * share of a crawl's link rows — and AQE's skew-join splitting, the
 * backstop for sort-merge joins, does not reach:
 *
 *   - top-k per key ([[topK]], [[topKRows]]): a bounded aggregate whose
 *     partial side keeps at most k rows per key per task, so a hot key
 *     reaches its final task as k rows from each mapper, never as its
 *     whole row set, and the plan has one exchange and no window — no
 *     salt is needed;
 *   - a global running total ([[rangedRunningSum]]): range-partitioned
 *     in two stages instead of a partition-less window that funnels
 *     every row through one task.
 */
object Skew {

  /** Aggregate: the `k` (≥ 1) smallest values of `order` in the group,
    * sorted ascending — Spark's bounded `CollectTopK` (`reverse = true`;
    * its companion object is not accessible, hence `new`). A struct
    * orders field by field, each ascending with NULL FIRST: a descending
    * field goes in negated, and a field whose NULLs must rank last is
    * led by its `isnull`. */
  def topK(order: Column, k: Int): Column = {
    require(k > 0, s"k must be positive, got $k")
    ColumnBridge.column(new CollectTopK(ColumnBridge.expression(order), k,
      reverse = true).toAggregateExpression())
  }

  /** Row form of [[topK]]: the `k` rows per `keyCol` smallest in
    * `struct(order)`, as the input columns plus `rnk` (1-based int, as
    * `row_number` gives). Rows tied on `order` rank by their other
    * columns. */
  def topKRows(df: DataFrame, keyCol: String, k: Int, order: Column*): DataFrame = {
    val rest = df.columns.filterNot(_ == keyCol)
    df.groupBy(col(keyCol))
      .agg(topK(struct(struct(order: _*), struct(rest.map(col): _*).as("r")), k)
        .as("__top"))
      .select(col(keyCol), posexplode(col("__top")).as(Seq("__pos", "__top")))
      .select(df.columns.map(c =>
          if (c == keyCol) col(c) else col("__top.r")(c).as(c)) :+
        (col("__pos") + 1).as("rnk"): _*)
  }

  /** EXACT global running total (inclusive) of `valueCol` in `order` —
    * the scalable replacement for `Window.orderBy(...)` with no
    * partition key, whose WindowExec funnels EVERY row through one task
    * (the "No Partition Defined" warning; fine for a bounded histogram,
    * a silent scale killer anywhere else). Two-stage:
    *
    *   1. range-repartition by `order` into P partitions (P = the
    *      session's shuffle parallelism — scale-adaptive, never a local
    *      constant) and compute the running total WITHIN each partition
    *      (partitions are disjoint ordered ranges, so local order is
    *      global order);
    *   2. per-partition totals (≤ P tiny rows) get their own running
    *      offset — the only single-partition window left is over P rows,
    *      bounded by cluster configuration, not data — and broadcast-join
    *      back.
    *
    * Exact for any row set: range partitions are disjoint and ordered,
    * equal keys land in one partition, and AQE coalescing merges only
    * ADJACENT ranges, so partition ids stay monotone in `order`. Adds
    * `outCol`; `order` columns must be deterministic row expressions.
    *
    * Ties: rows with EQUAL `order` values get row-order-dependent
    * running totals (same as the window it replaces when peers are
    * distinct); callers needing peer-aggregated semantics (RANGE frames)
    * must make `order` unique. */
  def rangedRunningSum(df: DataFrame, order: Column, valueCol: Column,
                       outCol: String): DataFrame = {
    val p = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    // persisted: the running-total branch and the offsets branch must see
    // the SAME range boundaries and partition ids — two independent
    // physical plans would each sample their own boundaries (ReuseExchange
    // usually dedupes the identical exchange, but correctness must not
    // hang on an optimizer rule firing)
    val local = df.repartitionByRange(p, order)
      .withColumn("__rrs_pid", spark_partition_id())
      .withColumn("__rrs_val", valueCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cum = local.withColumn("__rrs_cum",
      sum(col("__rrs_val")).over(
        Window.partitionBy(col("__rrs_pid")).orderBy(order)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offsets = local.groupBy(col("__rrs_pid"))
      .agg(sum(col("__rrs_val")).as("__rrs_pt"))
      .withColumn("__rrs_off",
        coalesce(sum(col("__rrs_pt")).over(
          Window.orderBy(col("__rrs_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__rrs_pid"), col("__rrs_off"))
    cum.join(broadcast(offsets), Seq("__rrs_pid"))
      .withColumn(outCol, col("__rrs_off") + col("__rrs_cum"))
      .drop("__rrs_pid", "__rrs_val", "__rrs_cum", "__rrs_off")
  }
}
