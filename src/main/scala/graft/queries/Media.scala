package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.side
import graft.ops.Multimodal

/** The media domain: feature, resize, frame and decode queries over the
  * synthetic media corpora. Each corpus has one builder here, which the
  * queries and `SideTables` both read. */
object Media {

  /** The 200-item synthetic media corpus. */
  private[graft] def corpus(s: SparkSession): DataFrame =
    Multimodal.syntheticMedia(s, 200)

  /** The corpus resized to 32×24 (stub transform, real metadata/plumbing). */
  private[graft] def resized(s: SparkSession): DataFrame =
    Multimodal.withResized(corpus(s), "payload", 32, 24)

  /** Per-frame rows from the stub video sampler (4 frames @ 40 ms) over
    * a 100-item synthetic media corpus. */
  private[graft] def frames(s: SparkSession): DataFrame =
    Multimodal.explodeFrames(Multimodal.withSampledFrames(
      Multimodal.syntheticMedia(s, 100), "payload", 4, 40L), "media_id")

  /** Kind, dims, audio format and the first stub feature per item. */
  private[graft] def features(s: SparkSession): DataFrame =
    Multimodal.withMediaFeatures(corpus(s), "payload")
      .select(col("media_id"), col("media_meta.kind").as("kind"),
        col("media_meta.width").as("width"), col("media_meta.height").as("height"),
        col("media_meta.sample_rate").as("sample_rate"),
        col("media_meta.channels").as("channels"),
        col("media_meta.duration_ms").as("duration_ms"),
        round(element_at(col("features"), 1), 5).as("f0"))

  val queries: Seq[Query] = Seq(
    Query("q_media_features", (s, _) => features(s),
      // kind + dims + WAV format re-derived INDEPENDENTLY from the raw
      // payload hex: PNG/GIF at fixed offsets, JPEG via a recursive
      // marker-chain walk, WAV via a recursive chunk walk. Only f0 (the
      // documented stub feature) passes through side_media.
      s"""WITH RECURSIVE raw AS (
         |  SELECT media_id, ph, length(ph)/2 AS nb FROM ${side("side_media_raw")}),
         |k AS (SELECT media_id, ph, nb,
         |    CASE WHEN substr(ph,1,8)='89504E47' THEN 'image/png'
         |         WHEN substr(ph,1,6)='FFD8FF' THEN 'image/jpeg'
         |         WHEN substr(ph,1,8)='47494638' THEN 'image/gif'
         |         WHEN substr(ph,1,8)='52494646' AND substr(ph,17,8)='57415645' THEN 'audio/wav'
         |         WHEN substr(ph,1,8)='52494646' AND substr(ph,17,8)='41564920' THEN 'video/avi'
         |         ELSE 'unknown' END AS kind
         |  FROM raw),
         |png AS (SELECT media_id,
         |    ('0x'||substr(ph,33,8))::INT AS width,
         |    ('0x'||substr(ph,41,8))::INT AS height
         |  FROM k WHERE kind='image/png' AND nb>=24),
         |gif AS (SELECT media_id,
         |    ('0x'||substr(ph,15,2)||substr(ph,13,2))::INT AS width,
         |    ('0x'||substr(ph,19,2)||substr(ph,17,2))::INT AS height
         |  FROM k WHERE kind='image/gif' AND nb>=10),
         |jrec(media_id, ph, nb, p) AS (
         |  SELECT media_id, ph, nb, 2 FROM k WHERE kind='image/jpeg'
         |  UNION ALL
         |  SELECT media_id, ph, nb, p + 2 + ('0x'||substr(ph,2*p+5,4))::BIGINT
         |  FROM jrec
         |  WHERE p+4 <= nb
         |    AND NOT (substr(ph,2*p+3,2) BETWEEN 'C0' AND 'CF'
         |             AND substr(ph,2*p+3,2) NOT IN ('C4','C8','CC'))
         |    AND substr(ph,2*p+3,2) NOT IN ('DA','D9')),
         |jpg AS (SELECT media_id,
         |    ('0x'||substr(ph,2*p+15,4))::INT AS width,
         |    ('0x'||substr(ph,2*p+11,4))::INT AS height
         |  FROM jrec
         |  WHERE p+9 <= nb AND substr(ph,2*p+3,2) BETWEEN 'C0' AND 'CF'
         |    AND substr(ph,2*p+3,2) NOT IN ('C4','C8','CC')),
         |wrec(media_id, ph, nb, p) AS (
         |  SELECT media_id, ph, nb, 12 FROM k WHERE kind='audio/wav' AND nb >= 36
         |  UNION ALL
         |  SELECT media_id, ph, nb,
         |    p + 8 + ('0x'||substr(ph,2*p+15,2)||substr(ph,2*p+13,2)||substr(ph,2*p+11,2)||substr(ph,2*p+9,2))::BIGINT
         |      + ('0x'||substr(ph,2*p+9,2))::BIGINT % 2
         |  FROM wrec WHERE p+8 <= nb),
         |wfmt AS (SELECT media_id,
         |    ('0x'||substr(ph,2*p+23,2)||substr(ph,2*p+21,2))::INT AS channels,
         |    ('0x'||substr(ph,2*p+31,2)||substr(ph,2*p+29,2)||substr(ph,2*p+27,2)||substr(ph,2*p+25,2))::INT AS sample_rate,
         |    ('0x'||substr(ph,2*p+39,2)||substr(ph,2*p+37,2)||substr(ph,2*p+35,2)||substr(ph,2*p+33,2))::BIGINT AS byte_rate
         |  FROM wrec WHERE p+24 <= nb AND substr(ph,2*p+1,8)='666D7420'),
         |wdata AS (SELECT media_id,
         |    ('0x'||substr(ph,2*p+15,2)||substr(ph,2*p+13,2)||substr(ph,2*p+11,2)||substr(ph,2*p+9,2))::BIGINT AS data_len
         |  FROM wrec WHERE p+8 <= nb AND substr(ph,2*p+1,8)='64617461')
         |SELECT k.media_id, k.kind,
         |  COALESCE(png.width, jpg.width, gif.width) AS width,
         |  COALESCE(png.height, jpg.height, gif.height) AS height,
         |  wfmt.sample_rate, wfmt.channels,
         |  CASE WHEN wdata.data_len IS NOT NULL AND wfmt.byte_rate > 0
         |       THEN (wdata.data_len * 1000) // wfmt.byte_rate END AS duration_ms,
         |  m.f0
         |FROM k
         |LEFT JOIN png USING (media_id) LEFT JOIN jpg USING (media_id)
         |LEFT JOIN gif USING (media_id) LEFT JOIN wfmt USING (media_id)
         |LEFT JOIN wdata USING (media_id)
         |JOIN ${side("side_media")} m USING (media_id)""".stripMargin),
    Query("q_media_resize", (s, _) =>
      resized(s).select(col("media_id"),
        col("resized_meta.width").as("width"),
        col("resized_meta.height").as("height"),
        col("resized_meta.n_bytes").as("n_bytes"),
        md5(hex(col("resized"))).as("payload_md5h")),
      // n_bytes + digest recomputed INDEPENDENTLY by DuckDB from the raw
      // resized payload (md5 over the uppercase hex — both engines'
      // hex() agree, and DuckDB's md5 only takes VARCHAR)
      s"""SELECT media_id, width, height,
         |  octet_length(resized) AS n_bytes,
         |  md5(hex(resized)) AS payload_md5h
         |FROM ${side("side_resized")}""".stripMargin),
    Query("q_media_frames", (s, _) =>
      frames(s).select(col("media_id"), col("frame_idx"), col("ts_ms"),
        length(col("frame")).cast("long").as("n_bytes"),
        md5(hex(col("frame"))).as("frame_md5h")),
      s"""SELECT media_id, frame_idx, ts_ms,
         |  CAST(octet_length(frame) AS BIGINT) AS n_bytes,
         |  md5(hex(frame)) AS frame_md5h
         |FROM ${side("side_frames")}""".stripMargin),
    Query("q_media_decode", (s, _) =>
      // REAL PNG pixel decode + area-average resize over the closed-form
      // two-tone corpus; the oracle computes every decoded and resized
      // channel sum by PURE ARITHMETIC from the id — no decoder in
      // DuckDB, so any pixel-level decode error hash-fails
      Multimodal.withDecodedSummary(
        Multimodal.syntheticRealPngs(s, 200),
        "media_id", "payload", targetW = 16, targetH = 8),
      // the 64×32 two-tone raster (left 32 cols color A(id), right 32
      // color B(id)) and its 16×8 box resize (4×4 boxes never straddle
      // the split, box average of a constant is exact), all channel
      // sums as closed-form integer arithmetic in the id
      """WITH ids AS (SELECT unnest(generate_series(0, 199)) AS i),
        |c AS (SELECT CAST(i AS BIGINT) AS media_id,
        |        CAST(i % 256 AS BIGINT) AS ar,
        |        CAST((i * 7) % 256 AS BIGINT) AS ag,
        |        CAST((i * 13) % 256 AS BIGINT) AS ab,
        |        CAST((i * 3) % 256 AS BIGINT) AS br,
        |        CAST((i * 5) % 256 AS BIGINT) AS bg,
        |        CAST((i * 11) % 256 AS BIGINT) AS bb
        |      FROM ids)
        |SELECT media_id,
        |       CAST(64 AS INT) AS width, CAST(32 AS INT) AS height,
        |       32 * (32 * ar + 32 * br) AS sum_r,
        |       32 * (32 * ag + 32 * bg) AS sum_g,
        |       32 * (32 * ab + 32 * bb) AS sum_b,
        |       CAST(16 AS INT) AS r_width, CAST(8 AS INT) AS r_height,
        |       8 * (8 * ar + 8 * br) AS r_sum_r,
        |       8 * (8 * ag + 8 * bg) AS r_sum_g,
        |       8 * (8 * ab + 8 * bb) AS r_sum_b
        |FROM c""".stripMargin),
    Query("q_audio_decode", (s, _) =>
      // REAL 16-bit PCM decode; closed-form samples, arithmetic oracle
      Multimodal.withDecodedAudio(
        Multimodal.syntheticRealWavs(s, 200, samples = 256),
        "media_id", "payload"),
      // sample i of clip id = ((id·31 + i·7) mod 2001) − 1000; sums,
      // absolute sums, and peaks re-derived per clip by generate_series
      """WITH ids AS (SELECT unnest(generate_series(0, 199)) AS id),
        |s AS (SELECT CAST(id AS BIGINT) AS media_id,
        |        CAST((id * 31 + u.i * 7) % 2001 - 1000 AS BIGINT) AS v
        |      FROM ids, UNNEST(generate_series(0, 255)) AS u(i))
        |SELECT media_id, count(*) AS n_samples,
        |       CAST(sum(v) AS BIGINT) AS sum_samples,
        |       CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |       max(abs(v)) AS peak_abs
        |FROM s GROUP BY media_id""".stripMargin)
  )
}
