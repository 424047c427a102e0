package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

import org.apache.spark.graftbench.Bus

/**
 * One benchmark run: set-up, a fixed warm-up, then the workload's
 * timed operation repeated for at least `--seconds`. Prints one line
 * `GRAFTBENCH_RESULT {json}` with the checks, the digest and the metrics.
 *
 *   --workload crawl_snapshot|corpus_prep  --seed n
 *   --seconds s  --trace 0|1  --work dir  --cores k  --trace-out file
 */
object Main {
  /** Per workload: pages, untimed warm-up operations and the least number
    * of timed operations. Sized so a run ends within about a minute on
    * 4 cores (README.md gives the measurements behind these numbers). */
  final case class Plan(docs: Long, warmupOps: Int, minOps: Int)
  val Plans = Map(
    "crawl_snapshot" -> Plan(2500, warmupOps = 2, minOps = 3),
    "corpus_prep" -> Plan(800, warmupOps = 1, minOps = 2))
  val ChangedShare = 0.20
  val NewShare = 0.05
  val SampleRows = 300
  val ReplayWarmupPasses = 5
  val ReplayPasses = 11
  val SpinSeconds = 0.5

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    val plan = Plans(name)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", "graft.hadoop.NoChmodLocalFileSystem")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(f"[graftbench] session-up ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%8.3f s")
    try run(spark, name, seed, plan, seconds, traced, work, cores, a("trace-out"))
    finally {
      spark.stop()
      System.err.println(f"[graftbench] stopped ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%8.3f s")
    }
  }

  private def run(spark: SparkSession, name: String, seed: Long, plan: Plan, seconds: Double,
                  traced: Boolean, work: String, cores: Int, traceOut: String): Unit = {
    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val n = plan.docs
    val listener = if (traced) Some(new StageListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val spans = new Spans(s"$name/seed$seed/trace${if (traced) 1 else 0}")
    val ctx = new Ctx(spark, seed, cores, listener, spans)
    val w: Workload = name match {
      case "crawl_snapshot" => new CrawlSnapshot(ctx, n, ChangedShare, (n * NewShare).toLong)
      case "corpus_prep" => new CorpusPrep(ctx, n)
    }
    val probes = new Probes

    // ---- set-up: inputs built from the seed ----
    val setupSpan = spans.open("setup")
    val (_, setupPassS) = secs(w.setup(s"$work/setup"))
    spans.close(setupSpan)
    // ---- warm-up: a fixed amount of work, untimed ----
    (1 to plan.warmupOps).foreach { k =>
      val span = spans.open("warmup")
      w.op(s"$work/warm$k", traced = false)
      spans.close(span)
      Files.rm(s"$work/warm$k")
    }
    val toFirstOpS = (System.currentTimeMillis() - procStartMs) / 1e3

    // ---- timed loop ----
    val walls, cpus, outs, jits, tracedWalls = ArrayBuffer.empty[Double]
    val stages = ArrayBuffer.empty[Map[String, Double]]
    var lastJobs = Seq.empty[JobRec]
    val checks = ArrayBuffer.empty[Check]
    var digest: String = null
    var units, failedUnits = 0L
    var ops, failedOps = 0
    val gc0 = probes.gcMs
    val jit0 = probes.jitMs
    val steal0 = probes.stealJiffies
    probes.resetHeapPeak()
    // a traced run needs at least one full u-t-t-u cycle
    val minOps = if (traced) math.max(4, plan.minOps + 1) else plan.minOps
    val loop0 = System.nanoTime()
    while (ops < minOps || (System.nanoTime() - loop0) / 1e9 < seconds) {
      val out = s"$work/out$ops"
      // a traced run interleaves untraced and traced operations in
      // u-t-t-u order, so the tracing overhead is measured within one run
      // and both kinds sit at the same mean point of the JIT warm-up slope
      val tracedOp = traced && (ops % 4 == 1 || ops % 4 == 2)
      listener.foreach { l => l.clear(); l.enabled = tracedOp }
      val span = spans.open(if (tracedOp) "op.traced" else "op")
      val jitOp0 = probes.jitMs
      val c0 = probes.cpuNs - probes.jitCpuNs
      val t0ms = System.currentTimeMillis()
      val (res, wall) = secs(
        try Right(w.op(out, tracedOp)) catch { case e: Throwable => Left(e) })
      val cpu = (probes.cpuNs - probes.jitCpuNs - c0) / 1e9
      val t1ms = System.currentTimeMillis()
      val opEnd = spans.now()
      if (tracedOp) { // the op's phase spans, derived from its jobs, nest under it
        Bus.drain(spark.sparkContext)
        listener.foreach(_.enabled = false)
        lastJobs = listener.get.snapshot()
        if (res.isRight) stages += w.stageMetrics(out, lastJobs, t0ms, t1ms)
      }
      spans.close(span, opEnd)
      res match {
        case Left(e) =>
          failedOps += 1
          checks += Check(s"operation $ops completed", ok = false, e.toString.take(300))
        case Right(r) =>
          val outMb = Files.mb(out)
          val cspan = spans.open("checks")
          val (cs, dg) = w.checks(out, r, full = ops == 0)
          spans.close(cspan)
          if (ops == 0) { checks ++= cs; digest = dg } else checks ++= cs.filter(!_.ok)
          if (cs.exists(!_.ok)) failedOps += 1
          units += r.attempted
          failedUnits += r.failed
          if (tracedOp) tracedWalls += wall
          else { walls += wall; cpus += cpu; outs += outMb; jits += (probes.jitMs - jitOp0).toDouble }
      }
      Files.rm(out)
      ops += 1
    }
    val timedOps = math.max(ops, 1)
    val steal1 = probes.stealJiffies
    val jvm = Map(
      "jvm.gc_s" -> (probes.gcMs - gc0) / 1e3 / timedOps,
      "jvm.jit_ms" -> (probes.jitMs - jit0).toDouble / timedOps,
      "jvm.heap_peak_mb" -> probes.heapPeakMb)

    // ---- box context: steal, load and a single-thread extractPage spin ----
    val sampleSpan = spans.open("sample")
    val sample = w.sample(SampleRows)
    spans.close(sampleSpan)
    val spinRows = sample.take(500)
    var spun = 0L
    val spinSpan = spans.open("spin")
    val (_, spinS) = secs {
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < SpinSeconds) {
        Replay.extractPagePass(spinRows); spun += spinRows.length
      }
    }
    spans.close(spinSpan)
    val box = Map(
      "box.steal_frac" -> {
        val dt = steal1._2 - steal0._2
        if (dt <= 0) 0.0 else (steal1._1 - steal0._1).toDouble / dt
      },
      "box.load1" -> probes.load1,
      "box.spin_docs_per_s" -> spun / spinS)

    val metrics = LinkedHashMap.empty[String, Double]
    val samples = LinkedHashMap.empty[String, Seq[Double]]
    if (!traced) {
      samples ++= Seq("wall_s" -> walls.toSeq, "cpu_s" -> cpus.toSeq,
        "out_mb" -> outs.toSeq)
      samples.foreach { case (k, v) => metrics(k) = median(v) }
      metrics("setup_s") = toFirstOpS
      samples("jvm.jit_ms") = jits.toSeq
      metrics("failed_frac") = if (units == 0) 1.0 else failedUnits.toDouble / units
    } else {
      // ---- per-page replay on the workload's own rows ----
      val acc = new Array[Long](Replay.Layers.length)
      val perPass = ArrayBuffer.empty[Array[Long]]
      val pageNs = ArrayBuffer.empty[Double]
      var counts: Replay.Counts = null
      // unmeasured passes first: in corpus_prep the per-page code has only
      // run during set-up, and both call paths must be compiled alike
      (1 to ReplayWarmupPasses).foreach { _ =>
        Replay.pass(sample, acc)
        Replay.extractPagePass(sample)
      }
      (1 to ReplayPasses).foreach { _ =>
        java.util.Arrays.fill(acc, 0L)
        val sp = spans.open("replay.layers")
        counts = Replay.pass(sample, acc)
        spans.close(sp)
        perPass += acc.clone()
        val sp2 = spans.open("replay.extract_page")
        pageNs += Replay.extractPagePass(sample).toDouble
        spans.close(sp2)
      }
      val k = sample.length.toDouble
      val layerUs = Replay.Layers.indices.map(i =>
        Replay.Layers(i) + "_us" -> median(perPass.map(_(i).toDouble).toSeq) / k / 1e3).toMap
      val pageUs = median(pageNs.toSeq) / k / 1e3
      metrics ++= layerUs
      metrics ++= Map(
        "pipeline.extract_page_us" -> pageUs,
        "pipeline.unattributed_us" -> (pageUs - layerUs.values.sum[Double]),
        "html.bytes_per_page" -> counts.bytes / k,
        "links.edges_per_page" -> counts.edges / k,
        "clean.text_chars_per_page" -> counts.textChars / k)
      // ---- Spark stages and op spans: median over the traced operations ----
      stages.flatMap(_.keys).distinct.foreach { key =>
        metrics(key) = median(stages.flatMap(_.get(key)).toSeq)
      }
      listener.foreach { l => l.clear(); l.enabled = true }
      val sp = spans.open("probes")
      val (pm, pc) = w.probes(s"$work/probes")
      metrics ++= pm
      checks ++= pc
      spans.close(sp)
      listener.foreach(_.enabled = false)
      metrics ++= jvm ++ box
      val tw = median(tracedWalls.toSeq)
      val uw = median(walls.toSeq)
      metrics ++= Map("trace.traced_wall_s" -> tw, "trace.untraced_wall_s" -> uw,
        "trace.overhead_frac" -> (tw / uw - 1.0))
      samples ++= Seq("trace.traced_wall_s" -> tracedWalls.toSeq, "trace.untraced_wall_s" -> walls.toSeq)
    }

    val context = Map("setup.inputs_s" -> setupPassS, "timed_ops" -> ops.toDouble,
      "docs" -> n.toDouble) ++ jvm ++ box
    def obj(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val checksJson = checks.map(c =>
      s"""{"name":${Json.str(c.name)},"ok":${c.ok},"detail":${Json.str(c.detail)}}""").mkString("[", ",", "]")
    val samplesJson = samples.map { case (k, v) =>
      s"${Json.str(k)}:${v.map(Json.num).mkString("[", ",", "]")}" }.mkString("{", ",", "}")
    val result =
      s"""{"workload":${Json.str(name)},"seed":$seed,"trace":${if (traced) 1 else 0},""" +
      s""""attempted":$ops,"failed":$failedOps,"checks":$checksJson,""" +
      s""""digest":${if (digest == null) "null" else Json.str(digest)},""" +
      s""""metrics":${obj(metrics)},"samples":$samplesJson,"context":${obj(context)}}"""
    if (traced && traceOut != null) {
      // the jobs of the last traced operation, as the listener saw them
      val jobs = lastJobs.map(j =>
        s"""{"id":${j.id},"desc":${Json.str(j.desc)},"call_site":${Json.str(j.callSite)},""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},""" +
        s""""task_cpu_s":${Json.num(j.cpuNs / 1e9)},"shuffle_write_mb":${Json.num(j.shuffleWrite / 1e6)},""" +
        s""""details":${Json.str(j.details.linesIterator.take(4).mkString(" | "))}}""").mkString("[", ",\n", "]")
      val trace = s"""{"result":$result,"jobs":$jobs,"spans":${spans.toJson}}"""
      val f = new java.io.File(traceOut)
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, trace)
    }
    println("GRAFTBENCH_RESULT " + result)
  }
}
