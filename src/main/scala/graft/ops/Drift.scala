package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Embedding-space corpus QA: per-group centroids and the vectors that
 * drift furthest from their own group — the audit a training pipeline
 * runs per source/snapshot to catch contamination (a scraper suddenly
 * ingesting spam shifts its source centroid; the lowest-affinity members
 * ARE the suspect docs). Complements [[Dedup.semanticClusters]]: that op
 * LEARNS cells from geometry, this one scores against GIVEN groups (the
 * source/label column a corpus already carries).
 *
 * The centroid mean is computed over QUANTIZED components
 * (floor(x · 2^20) as BIGINT): per-(group, position) integer sums are
 * order-independent under any partitioning — a distributed float mean
 * would drift with partition order and break both determinism and the
 * cross-engine oracle. The two divisions back to double are
 * correctly-rounded IEEE ops (the temperatureSample/bm25 discipline).
 * Quantization bias is ≤ 2^-20 per component — irrelevant for an
 * outlier RANKING, and pinned exactly by the oracle which re-derives
 * the same quantization.
 *
 * Scale shape: the component explode shuffles (group, pos, q) rows with
 * map-side combine — one row per (group, position) per mapper, never per
 * vector; centroids (|groups| · dim doubles) broadcast back; the cosine
 * pass is the native codegen [[graft.functions.CosinePair]] per row; the
 * bottom-k per group is the bounded top-k aggregate [[Skew.topKRows]].
 */
object Drift {

  /** Exact per-group centroids: (groupCol, centroid array<double>, n_vecs).
    * Deterministic under any partitioning (integer sums). */
  def groupCentroids(emb: DataFrame, groupCol: String,
                     vecCol: String): DataFrame = {
    // explode the raw vector and quantize AFTER the explode: the scalar
    // floor/cast chain is whole-stage-codegen'd per element, where the
    // earlier transform(vec, x -> floor(..)) HOF was CodegenFallback —
    // an interpreted lambda per component per vector. Same values
    // (identical double multiply + floor per element, just relocated).
    val comp = emb.select(col(groupCol).as("grp"), posexplode(col(vecCol)))
      .toDF("grp", "pos", "x")
      .select(col("grp"), col("pos"),
        floor(col("x").cast("double") * lit(1048576.0)).cast("long").as("q"))
    comp.groupBy(col("grp"), col("pos"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("cnt"))
      .withColumn("c",
        (col("sq").cast("double") / lit(1048576.0)) / col("cnt").cast("double"))
      .groupBy(col("grp"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s("c")).as("centroid"),
        max(col("cnt")).as("n_vecs"))
      .select(col("grp").as(groupCol), col("centroid"), col("n_vecs"))
  }

  /** The k LOWEST-affinity vectors per group: (groupCol, idCol, cent_cos,
    * rnk) with rnk 1 = furthest from the group centroid; cosine rounded
    * to 6 (the repo's cross-engine float convention). Rank order: a NaN
    * cosine first, then ascending cosine, then a NULL one (zero-norm or
    * NULL-element vector); ties by ascending id. */
  def centroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
                       groupCol: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val cents = broadcast(groupCentroids(emb, groupCol, vecCol)
      .select(col(groupCol).as("__grp"), col("centroid")))
    val scored = emb
      .join(cents, col(groupCol) === col("__grp"))
      .withColumn("cent_cos", round(ColumnBridge.column(
        graft.functions.CosinePair(
          // array<float> → array<double> via Cast (codegen'd, exact
          // widening) instead of a transform(x -> cast) HOF lambda
          ColumnBridge.expression(col(vecCol).cast("array<double>")),
          ColumnBridge.expression(col("centroid")))), 6))
      .select(col(groupCol), col(idCol), col("cent_cos"))
    val c = col("cent_cos")
    Skew.topKRows(scored, groupCol, k, isnull(c), !isnan(c), c, col(idCol))
  }
}
