package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.SparkTestBase

class DriftSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("groupCentroids: exact quantized means, hand-derived") {
    val vecs = Seq(
      (1L, "a", Seq(1.0f, 0.0f)),
      (2L, "a", Seq(0.0f, 1.0f)),
      (3L, "b", Seq(-1.0f, -0.5f)))
      .toDF("vec_id", "label", "embedding")
    val out = Drift.groupCentroids(vecs, "label", "embedding")
      .as[(String, Seq[Double], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("a") == ((Seq(0.5, 0.5), 2L)))
    // floor(-0.5 * 2^20) = -524288 exactly → -0.5 back
    assert(out("b") == ((Seq(-1.0, -0.5), 1L)))
  }

  test("groupCentroids: bitwise identical under any partitioning") {
    val rows = (0 until 200).map { i =>
      (i.toLong, s"g${i % 3}", Seq(i * 0.013f, 1.0f - i * 0.007f, 0.3f * i))
    }
    def cents(parts: Int) =
      Drift.groupCentroids(rows.toDF("vec_id", "label", "embedding")
          .repartition(parts), "label", "embedding")
        .as[(String, Seq[Double], Long)].collect()
        .map(r => r._1 -> r._2.map(java.lang.Double.doubleToRawLongBits))
        .toMap
    assert(cents(1) == cents(13))
  }

  test("centroidOutliers: the planted drifter ranks first") {
    val cluster = (1 to 6).map(i =>
      (i.toLong, "a", Seq(1.0f + i * 0.01f, 0.02f * i)))
    val drifter = Seq((99L, "a", Seq(-1.0f, 0.0f)))
    val other = Seq((50L, "b", Seq(0.0f, 1.0f)))
    val out = Drift.centroidOutliers(
        (cluster ++ drifter ++ other).toDF("vec_id", "label", "embedding"),
        "vec_id", "embedding", "label", k = 3)
      .as[(String, Long, Double, Int)].collect()
    val aRanked = out.filter(_._1 == "a").sortBy(_._4)
    assert(aRanked.head._2 == 99L)
    assert(aRanked.head._3 < aRanked(1)._3)
    assert(aRanked.size == 3) // k truncation
    // a 1-vector group is its own centroid: cosine 1, still reported
    val b = out.filter(_._1 == "b")
    assert(b.map(_._2).toSeq == Seq(50L) && b.head._3 == 1.0)
  }

  test("centroidOutliers: a zero vector (NULL cosine) ranks last, NaN first") {
    val vecs = Seq(
      (1L, "a", Seq(1.0f, 0.0f)),
      (2L, "a", Seq(0.9f, 0.1f)),
      (3L, "a", Seq(0.0f, 0.0f)),            // zero norm → NULL cent_cos
      (4L, "a", Seq(-1.0f, 0.5f)),
      (5L, "a", Seq(Float.NaN, 1.0f)))       // NaN cent_cos
      .toDF("vec_id", "label", "embedding")
    def ranked(k: Int) = Drift.centroidOutliers(vecs, "vec_id", "embedding",
        "label", k = k)
      .as[(String, Long, Option[Double], Int)].collect().sortBy(_._4).toSeq
    val all = ranked(5)
    assert(all.map(_._4) == Seq(1, 2, 3, 4, 5))
    assert(all.map(_._2) == Seq(5L, 4L, 1L, 2L, 3L), all)
    assert(all.head._3.exists(_.isNaN) && all.last._3.isEmpty, all)
    // the NULL cosine is the first row cut by a smaller k
    assert(ranked(4).map(_._2) == Seq(5L, 4L, 1L, 2L))
  }
}
