package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{SparkTestBase, TempDirs}

class SimilaritySpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // deterministic synthetic embeddings: cluster centers + small offsets
  private def vec(seed: Int, dim: Int = 16): Array[Float] = {
    Array.tabulate(dim) { d =>
      val h = (seed * 1000003L + d * 2654435761L)
      (((h % 1000).toFloat / 1000f) - 0.5f)
    }
  }
  private val q = vec(1)
  private val emb = {
    val near = (1 to 5).map { i =>
      val v = q.clone(); v(i % v.length) += 0.05f; (i.toLong, v.toSeq)
    }
    val far = (10 to 50).map(i => (i.toLong, vec(i * 7 + 3).toSeq))
    (near ++ far).toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
  }

  test("brute-force top-k returns the planted near neighbors first") {
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5)
      .select($"vec_id").as[Long].collect().toSet
    assert(top == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("cosine column matches scala-side computation") {
    val row = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 1).collect()(0)
    val id = row.getAs[Long]("vec_id")
    val v = emb.filter($"vec_id" === id).select($"embedding")
      .as[Seq[Float]].head().toArray
    val expected = graft.textstats.TextAnalysis.cosine(v, q)
    assert(math.abs(row.getAs[Double]("cos") - (math.rint(expected * 1e6) / 1e6)) < 1e-9)
  }

  test("LSH top-k recall vs brute force is high on clustered data") {
    val recall = Similarity.recallAtK(emb, "vec_id", "embedding", q, 5,
      bits = 8, nProbes = 6)
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("persisted index: lshTopKIndexed prunes partitions and matches the on-the-fly path") {
    val path = tempDir("graft_ann_idx")
    Similarity.writeBucketed(emb, path, "embedding", bits = 8)
    val indexed = Similarity.lshTopKIndexed(spark, path, "vec_id", "embedding",
      q, 5, bits = 8, nProbes = 6)
    // the probe filter must reach the scan as a PARTITION filter (pruned
    // file listing — the r01 on-the-fly path re-scanned the whole corpus)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lsh_bucket"),
      plan.take(1200))
    val onTheFly = Similarity.lshTopK(emb, "vec_id", "embedding", q, 5,
      bits = 8, nProbes = 6).select($"vec_id", $"cos").collect().toSeq
    assert(indexed.select($"vec_id", $"cos").collect().toSeq == onTheFly)
  }

  test("IVF: deterministic centroids, partition-pruned probes, planted neighbors recalled") {
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", k = 8, iters = 5)
    val cents2 = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", k = 8, iters = 5)
    assert(cents.map(_.toSeq).toSeq == cents2.map(_.toSeq).toSeq) // deterministic
    val path = tempDir("graft_ivf_idx") + "/idx"
    Similarity.writeIvf(emb, path, "embedding", cents)
    val top = Similarity.ivfTopK(spark, path, "vec_id", "embedding", q, 5, cents, nProbes = 3)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cell"), plan.take(1200))
    // the 5 planted near-duplicates of q cluster into q's cell → recalled
    val got = top.select($"vec_id").as[Long].collect().toSet
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5)
      .select($"vec_id").as[Long].collect().toSet
    assert(got.intersect(exact).size >= 3, s"got=$got exact=$exact")
  }

  test("bucketing deterministic and partition-prunable") {
    val b1 = Similarity.withBucket(emb, "embedding", bits = 8)
      .select($"vec_id", $"lsh_bucket").as[(Long, Long)].collect().toMap
    val b2 = Similarity.withBucket(emb, "embedding", bits = 8)
      .select($"vec_id", $"lsh_bucket").as[(Long, Long)].collect().toMap
    assert(b1 == b2)
    // planted near-dups of q mostly share q's bucket
    val qb = graft.textstats.TextAnalysis.rhpBucket(q, 8, 42L)
    assert((1 to 5).count(i => b1(i.toLong) == qb) >= 3)
  }

  test("int8TopK: integer dots rank the planted cluster first; " +
      "deterministic across repartition; ties break by id") {
    val q = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val rows = Seq(
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // near q
      (2L, Array(0.4f, 0.0f, 0.8f, 0.0f)),   // on-axis but max elsewhere:
                                             // quantizes to 63 on axis 0
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),  // opposite
      (5L, Array(0.9f, 0.1f, 0.0f, 0.0f)))   // tie with 1
    val df = rows.toDF("vec_id", "embedding")
    val top = Similarity.int8TopK(df, "vec_id", "embedding", q, 3)
      .as[(Long, Long)].collect().toSeq
    assert(top.map(_._1) == Seq(1L, 5L, 2L)) // tie 1 vs 5 → id asc
    assert(top(0)._2 == top(1)._2 && top(0)._2 > top(2)._2)
    val top2 = Similarity.int8TopK(df.repartition(7), "vec_id", "embedding",
      q, 3).as[(Long, Long)].collect().toSeq
    assert(top2 == top)
  }

  test("quantizeInt8: hand-derived audit scalars — max hits 127, symmetric " +
      "negatives, zero vector, empty vector") {
    val rows = Seq(
      (1L, Array(2.0f, -2.0f, 1.0f, 0.0f)),  // m=2: q = 127,-127,63,0
      (2L, Array(0.0f, 0.0f)),               // zero vector: all q = 0
      (3L, Array.empty[Float]),
      (4L, Array(-4.0f)))                    // single negative: q = -127
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(rows)
      .as[(Long, Long, Double, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    // floor(1.0*127/2.0) = floor(63.5) = 63; floor(-2*127/2) = -127
    assert(out(1L) == ((4L, 2.0, 127L - 127L + 63L + 0L, -127L, 127L, 0L)))
    assert(out(2L) == ((2L, 0.0, 0L, 0L, 0L, 0L)))
    assert(out(3L) == ((0L, 0.0, 0L, 0L, 0L, 0L)))
    assert(out(4L) == ((1L, 4.0, -127L, -127L, -127L, 0L)))
  }
}
