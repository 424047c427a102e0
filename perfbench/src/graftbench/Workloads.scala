package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, LinkGraph, Retrieval, TrainingData}
import graft.pipeline.{Extract, PageRow}

final case class Check(name: String, ok: Boolean, detail: String)

/** What one timed operation did: units attempted and failed (pages for the
  * crawl workloads, documents for corpus_prep). */
final case class OpOut(attempted: Long, failed: Long)

final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
                val listener: Option[StageListener], val spans: Spans)

object Files {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
  def rm(p: String): Unit = rm(new File(p))
  /** (bytes, files) under `p`. */
  def du(p: String): (Long, Long) = {
    def walk(f: File): (Long, Long) =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      else if (f.isFile) (f.length, 1L) else (0L, 0L)
    walk(new File(p))
  }
  def mb(p: String): Double = du(p)._1 / 1e6
}

abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def seed: Long = ctx.seed
  /** Builds the run's inputs from the seed under the fresh directory `dir`. */
  def setup(dir: String): Unit
  /** The timed operation, writing under the fresh directory `out`. */
  def op(out: String, traced: Boolean): OpOut
  /** Output checks; `full` adds the expensive ones and returns the digest. */
  def checks(out: String, res: OpOut, full: Boolean): (Seq[Check], String)
  /** Per-layer metrics of a traced op over [t0, t1] (epoch ms). */
  def stageMetrics(out: String, jobs: Seq[JobRec], t0: Long, t1: Long): Map[String, Double]
  /** Traced-only probes run once after the timed loop, with their checks. */
  def probes(dir: String): (Map[String, Double], Seq[Check])
  /** Input rows for the per-page replay. */
  def sample(k: Int): Array[PageRow]

  protected def pages(path: String): Dataset[PageRow] =
    spark.read.parquet(path).as[PageRow](Encoders.product[PageRow])

  protected def write(ds: Dataset[PageRow], path: String): Unit =
    ds.write.mode("overwrite").parquet(path)

  protected def sampleOf(path: String, k: Int): Array[PageRow] =
    pages(path).filter(col("html").isNotNull && col("url").isNotNull)
      .orderBy(xxhash64(col("url"))).limit(k).collect()

  protected def check(name: String, got: Any, want: Any): Check =
    Check(name, got == want, s"got $got, want $want")

  protected def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Digest over the sorted (url, sha256(text)) pairs of a docs_clean table. */
  protected def textDigest(docs: DataFrame): String = {
    val lines = docs.select(coalesce(col("url"), lit("<null>")),
        coalesce(sha2(col("text"), 256), lit("<null>")))
      .collect().map(r => r.getString(0) + "\t" + r.getString(1)).sorted
    sha256Hex(lines.mkString("\n"))
  }

  protected def classCounts(docs: DataFrame): Map[String, Long] =
    docs.filter(col("parse_failed")).groupBy(col("failure_class")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Splits one Extract.run call's jobs into its phases. The four phase
    * times partition [t0, t1]: dedup ends with the last `latestPerUrl` job,
    * the sidecars run from the first to the last sidecar job, the ledger
    * phase follows them, and extract_write is the rest. */
  protected def runPhases(all: Seq[JobRec], t0: Long, t1: Long,
                          out: String): Map[String, Double] = {
    val js = all.filter(j => j.startMs >= t0 && j.startMs <= t1)
    val side = js.filter(_.desc.startsWith("extract.run sidecar:"))
    val dedup = js.filter(_.details.contains("latestPerUrl"))
    val sideStart = if (side.isEmpty) t1 else side.map(_.startMs).min
    val sideEnd = if (side.isEmpty) t1 else side.map(_.endMs).max
    val dedupEnd = if (dedup.isEmpty) t0 else dedup.map(_.endMs).max
    val write = js.filter(j => !side.contains(j) && !dedup.contains(j) && j.startMs < sideStart)
    val w = StageListener.agg(write)
    val a = StageListener.agg(js)
    val wallS = math.max(1L, t1 - t0) / 1e3
    val ms = 1000000L
    Seq("dedup" -> (t0, dedupEnd), "extract_write" -> (dedupEnd, sideStart),
      "sidecars" -> (sideStart, sideEnd), "ledger" -> (sideEnd, t1))
      .foreach { case (nm, (a0, a1)) => ctx.spans.add(s"extract.run.$nm", a0 * ms, a1 * ms) }
    Map(
      "pipeline.dedup_s" -> (dedupEnd - t0) / 1e3,
      "pipeline.extract_write_s" -> (sideStart - dedupEnd) / 1e3,
      "pipeline.extract_write.task_cpu_s" -> w.cpuS,
      "pipeline.extract_write.gc_s" -> w.gcS,
      "pipeline.extract_write.shuffle_write_mb" -> w.shuffleWriteMb,
      "pipeline.extract_write.spill_mb" -> w.spillMb,
      "pipeline.extract_write.task_skew" -> w.skew,
      "pipeline.sidecars_s" -> (sideEnd - sideStart) / 1e3,
      "pipeline.ledger_s" -> (t1 - sideEnd) / 1e3,
      "pipeline.jobs" -> a.jobs.toDouble,
      "pipeline.tasks" -> a.tasks.toDouble,
      "pipeline.cpu_util" -> a.cpuS / (wallS * ctx.cores),
      "pipeline.out.docs_clean_mb" -> Files.mb(s"$out/docs_clean"),
      "pipeline.out.doc_meta_mb" -> Files.mb(s"$out/doc_meta"),
      "pipeline.out.links_mb" -> Files.mb(s"$out/links"),
      "pipeline.out.anchors_mb" -> Files.mb(s"$out/anchors"),
      "pipeline.out.files" -> Files.du(out)._2.toDouble)
  }

  protected val Buckets = Extract.DefaultBuckets
  protected val Slices = 8
}

/** First extraction of a fresh snapshot into an empty output directory. */
final class CrawlSnapshot(ctx: Ctx, n: Long, changed: Double, fresh: Long)
    extends Workload(ctx) {
  private var dir: String = _
  private lazy val plans = (0L until n).map(Gen.plan(seed, _))
  private def poison = Gen.nullPayloads(n) + Gen.nullUrls(n)

  def setup(d: String): Unit = {
    dir = d
    write(Gen.snapshotA(spark, seed, n, withNullUrls = true, Slices), s"$d/pages")
  }

  def op(out: String, traced: Boolean): OpOut = {
    val s = Extract.run(spark, pages(s"$dir/pages"), out, s"snapshot-$seed", Buckets)
    OpOut(s.docs, s.failures)
  }

  def checks(out: String, res: OpOut, full: Boolean): (Seq[Check], String) = {
    val light = Seq(
      check("docs = unique urls + poison", res.attempted, n + poison),
      check("parse failures = planted poison", res.failed, poison.toLong))
    if (!full) return (light, null)
    val docs = spark.read.parquet(s"$out/docs_clean").cache()
    val kinds = docs.filter(!col("parse_failed")).groupBy("content_kind").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantKinds = plans.groupBy(p => Gen.KindNames(p.kind)).map { case (k, v) => k -> v.size.toLong }
    val recaptured = docs.filter(col("warc_ts") >= new java.sql.Timestamp(Gen.RecaptureTs)).count()
    val more = Seq(
      check("docs_clean rows", docs.count(), n + poison),
      check("failure classes", classCounts(docs),
        Map("decode" -> Gen.nullPayloads(n).toLong, "parse" -> Gen.nullUrls(n).toLong)),
      check("content kinds", kinds, wantKinds),
      check("latest capture kept for recaptured urls", recaptured,
        plans.count(_.recapture > 0).toLong))
    val digest = textDigest(docs)
    docs.unpersist()
    (light ++ more, digest)
  }

  def stageMetrics(out: String, jobs: Seq[JobRec], t0: Long, t1: Long): Map[String, Double] =
    runPhases(jobs, t0, t1, out)

  /** Dedup's input share plus the recrawl path: the next snapshot of the
    * same urls (`changed` of them edited, `fresh` new urls, null-payload
    * poison) against this snapshot's docs_clean, first through
    * `Extract.changedOnly` alone, then as `Extract.run(prevSnapshot = …)`,
    * then the same runId again, which the resume ledger must skip. */
  def probes(d: String): (Map[String, Double], Seq[Check]) = {
    val p = pages(s"$dir/pages").filter(col("url").isNotNull)
    val urls = p.select("url").distinct().count()
    val dup = p.groupBy("url").count().filter(col("count") > 1).count()

    write(Gen.snapshotB(spark, seed, n, changed, fresh, Slices), s"$d/b")
    Extract.run(spark, pages(s"$dir/pages"), s"$d/prev", s"snapshot-$seed", Buckets)
    val prev = spark.read.parquet(s"$d/prev/docs_clean")
    val b = pages(s"$d/b")
    val sc = spark.sparkContext
    sc.setJobDescription("bench: changed_only")
    val t0 = System.nanoTime()
    Extract.changedOnly(Extract.latestPerUrl(b), prev).write.format("noop").mode("overwrite").save()
    val t1 = System.nanoTime()
    sc.setJobDescription(null)
    val runId = s"recrawl-$seed"
    val delta = Extract.run(spark, b, s"$d/delta", runId, Buckets, prevSnapshot = Some(prev))
    val t2 = System.nanoTime()
    val calls0 = Extract.extractCalls.sum()
    Extract.run(spark, b, s"$d/delta", runId, Buckets, prevSnapshot = Some(prev))
    val t3 = System.nanoTime()
    val rerunCalls = Extract.extractCalls.sum() - calls0
    val rerunLedger = spark.read.parquet(s"$d/delta/progress")
      .filter(col("run_id") === runId && col("completed_seq") =!= 0L).count()
    org.apache.spark.graftbench.Bus.drain(sc)
    val co = StageListener.agg(ctx.listener.get.snapshot().filter(_.desc == "bench: changed_only"))
    val nChanged = (0L until n).count(Gen.changedInB(seed, _, changed)).toLong
    val poisonB = Gen.nullPayloads(n).toLong
    val metrics = Map(
      "pipeline.dedup.dup_url_frac" -> dup.toDouble / urls,
      "pipeline.changed_only_s" -> (t1 - t0) / 1e9,
      "pipeline.changed_only.shuffle_mb" -> co.shuffleWriteMb,
      "pipeline.delta_s" -> (t2 - t1) / 1e9,
      "pipeline.delta.extracted_frac" -> delta.docs.toDouble / (n + fresh + poisonB),
      "pipeline.resume_s" -> (t3 - t2) / 1e9,
      "pipeline.resume.skipped_frac" -> (1.0 - rerunLedger.toDouble / Buckets))
    val checks = Seq(
      check("recrawl extracts changed + new + poison", delta.docs, nChanged + fresh + poisonB),
      check("recrawl failures = planted poison", delta.failures, poisonB),
      check("resume rerun extracts nothing", rerunCalls, 0L),
      check("resume rerun appends no ledger rows", rerunLedger, 0L))
    (metrics, checks)
  }

  def sample(k: Int): Array[PageRow] = sampleOf(s"$dir/pages", k)
}

/** README's crawl→training chain over a corpus extracted during set-up. */
final class CorpusPrep(ctx: Ctx, n: Long) extends Workload(ctx) {
  private var dir: String = _
  private lazy val plans = (0L until n).map(Gen.plan(seed, _))
  private def inList(p: Gen.Plan) = Gen.Langs.contains(p.lang)
  private def docId(url: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(url),
      org.apache.spark.sql.types.StringType, 42L)
  private val queries: Seq[(String, Seq[String])] = (0 until Gen.NumQueries).map(q =>
    s"q$q" -> Seq(Gen.queryTerm(q), Gen.vocab(q), Gen.vocab(q + 1)))
  val opNames = Seq("kept_ids", "neardup", "pagerank", "bm25", "shards")

  /** The corpus: the latest capture of every url, extracted by
    * `Extract.extract` and written once; the chain reads its projections. */
  def setup(d: String): Unit = {
    dir = d
    write(Gen.snapshotA(spark, seed, n, withNullUrls = false, Slices), s"$d/pages")
    Extract.extract(Extract.latestPerUrl(pages(s"$d/pages")), Buckets)
      .select(col("doc.url").as("url"), col("doc.text").as("text"), col("meta.lang").as("lang"),
        col("links.dst_url").as("dst_urls"), col("doc.parse_failed").as("parse_failed"))
      .write.mode("overwrite").parquet(s"$d/corpus")
    val c = spark.read.parquet(s"$d/corpus")
      .agg(count(lit(1)), sum(when(col("parse_failed"), 1L).otherwise(0L))).first()
    corpusDocs = c.getLong(0)
    failedDocs = c.getLong(1)
  }

  /** Documents in the corpus and those whose extraction failed, counted
    * from the extracted corpus the chain reads. */
  private var corpusDocs, failedDocs = 0L

  private def docs = spark.read.parquet(s"$dir/corpus")
    .select(xxhash64(col("url")).as("doc_id"), col("text"), col("lang"),
      expr("parse_url(url, 'HOST')").as("source"))
  private def links = spark.read.parquet(s"$dir/corpus")
    .select(col("url").as("src_url"), explode(col("dst_urls")).as("dst_url"))

  /** One chain step: run `body`, write its result to `out/name`. */
  private def step(out: String, name: String, traced: Boolean)(body: => DataFrame): DataFrame = {
    val span = if (traced) ctx.spans.open(s"ops.$name") else -1
    if (traced) spark.sparkContext.setJobDescription(s"bench op: $name")
    try body.write.mode("overwrite").parquet(s"$out/$name")
    finally spark.sparkContext.setJobDescription(null)
    if (traced) ctx.spans.close(span)
    spark.read.parquet(s"$out/$name")
  }

  def op(out: String, traced: Boolean): OpOut = {
    val d = docs
    val keptIds = step(out, "kept_ids", traced)(TrainingData.keptIds(d))
    val kept = d.join(keptIds, "doc_id")
    val drops = step(out, "neardup", traced)(
      Dedup.nearDupDropList(kept, "doc_id", "text", minJaccard = 0.8))
    val deduped = kept.join(drops.select(col("drop_id").as("doc_id")), Seq("doc_id"), "left_anti")
    step(out, "pagerank", traced)(LinkGraph.pageRank(links))
    step(out, "bm25", traced)(Retrieval.bm25TopK(deduped, "doc_id", "text", queries, k = 10))
    step(out, "shards", traced)(TrainingData.shardAssignments(deduped, numShards = 64))
    OpOut(corpusDocs, failedDocs)
  }

  def checks(out: String, res: OpOut, full: Boolean): (Seq[Check], String) = {
    def read(nm: String) = spark.read.parquet(s"$out/$nm")
    val wantKept = plans.count(p => inList(p) && p.dup != 1).toLong
    val wantDrops = plans.filter(p => inList(p) && p.dup == 2)
      .map(p => Set(docId(Gen.urlOf(p)), docId(Gen.urlOf(plans(p.source.toInt))))).toSet
    val nKept = read("kept_ids").count()
    val drops = read("neardup").collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet
    val light = Seq(
      check("corpus docs = urls + poison", res.attempted, n + Gen.nullPayloads(n)),
      check("failed extractions = planted poison", res.failed, Gen.nullPayloads(n).toLong),
      check("kept = in-language docs minus mirror copies", nKept, wantKept),
      check("near-dup drops = planted pairs", drops.size.toLong, wantDrops.size.toLong))
    if (!full) return (light, null)
    val edges = links.filter(col("src_url").isNotNull && col("dst_url").isNotNull &&
      col("src_url") =!= col("dst_url"))
    val nodes = edges.select(col("src_url")).union(edges.select(col("dst_url"))).distinct().count()
    val pr = read("pagerank")
    val rankSum = pr.agg(sum("rank")).first().getDouble(0)
    val top = read("bm25").filter(col("rnk") === 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantTop = plans.filter(_.query >= 0).map(p => s"q${p.query}" -> docId(Gen.urlOf(p))).toMap
    val shards = read("shards")
    val badShard = shards.filter(col("shard") < 0 || col("shard") >= 64).count()
    val more = Seq(
      Check("near-dup drops pair planted copies", drops == wantDrops,
        s"${(drops -- wantDrops).size} unplanted, ${(wantDrops -- drops).size} missed"),
      check("pagerank rows = link graph nodes", pr.count(), nodes),
      Check("pagerank mass sums to 1", math.abs(rankSum - 1.0) < 1e-6, s"sum $rankSum"),
      check("bm25 top hit = planted doc per query", top, wantTop),
      check("shard rows = kept minus drops", shards.count(), wantKept - drops.size),
      check("shards in range", badShard, 0L))
    val lines = read("kept_ids").collect().map(r => s"k\t${r.getLong(0)}") ++
      read("neardup").collect().map(r => s"d\t${r.getLong(0)}\t${r.getLong(1)}") ++
      shards.collect().map(r => s"s\t${r.getLong(0)}\t${r.getInt(1)}\t${r.getLong(2)}") ++
      read("bm25").collect().map(r => s"b\t${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}")
    (light ++ more, sha256Hex(lines.sorted.mkString("\n")))
  }

  def stageMetrics(out: String, jobs: Seq[JobRec], t0: Long, t1: Long): Map[String, Double] = {
    val ops = jobs.filter(j => j.startMs >= t0 && j.startMs <= t1 && j.desc.startsWith("bench op:"))
    val a = StageListener.agg(ops)
    opNames.map(o => s"ops.${o}_s" -> ctx.spans.lastSeconds(s"ops.$o")).toMap ++ Map(
      "ops.shuffle_mb" -> a.shuffleWriteMb,
      "ops.spill_mb" -> a.spillMb)
  }

  def probes(d: String): (Map[String, Double], Seq[Check]) = {
    val kept = docs.join(TrainingData.keptIds(docs), "doc_id")
    val cands = Dedup.lshCandidatePairs(kept, "doc_id", "text", numPerm = 32, bands = 16).cache()
    val nc = cands.count()
    val verified = Dedup.verifyJaccard(cands, kept, "doc_id", "text")
      .filter(col("jaccard") >= 0.8).count()
    cands.unpersist()
    (Map("ops.neardup.candidate_pairs" -> nc.toDouble,
      "ops.neardup.verified_frac" -> (if (nc == 0) 0.0 else verified.toDouble / nc)), Nil)
  }

  def sample(k: Int): Array[PageRow] = sampleOf(s"$dir/pages", k)
}
