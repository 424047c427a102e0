package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.SparkTestBase

/** Checkpoints.truncate: the conf-gated reliable-checkpoint mode must
  * produce the SAME plan shape as the local default (a materialized RDD
  * leaf — the lineage-truncation property the iterative ops depend on)
  * and identical results; only where the bytes live differs. */
class CheckpointsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def leafName(d: org.apache.spark.sql.DataFrame): String =
    d.queryExecution.optimizedPlan.getClass.getSimpleName

  test("both modes produce a materialized LogicalRDD leaf with identical rows") {
    val df = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("u", "v")
      .groupBy($"u").count() // a shuffle, so truncation is observable
    val local = Checkpoints.truncate(df.toDF())
    assert(leafName(local) == "LogicalRDD", leafName(local))
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Checkpoints.ConfKey, dir)
    try {
      val reliable = Checkpoints.truncate(df.toDF())
      assert(leafName(reliable) == "LogicalRDD", leafName(reliable))
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains(
        java.nio.file.Paths.get(dir).getFileName.toString)))
      assert(local.collect().toSet == reliable.collect().toSet)
    } finally spark.conf.unset(Checkpoints.ConfKey)
  }

  test("pageRank results are bitwise identical under reliable checkpointing") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"))
      .toDF("src", "dst")
    val base = LinkGraph.pageRank(edges, 2, 0.85, localFinishEdges = 0L).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    spark.conf.set(Checkpoints.ConfKey, dir)
    try {
      val rel = LinkGraph.pageRank(edges, 2, 0.85, localFinishEdges = 0L).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toMap
      assert(rel.keySet == base.keySet)
      rel.foreach { case (k, v) => assert(v == base(k), k) }
    } finally spark.conf.unset(Checkpoints.ConfKey)
  }
}
