package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

import graft.clean.{Cleaner, Sanitize}
import graft.html.{HtmlParser, Serializer}
import graft.links.LinkExtractor
import graft.meta.MetadataExtractor
import graft.pdf.PdfText
import graft.perfbench.Hash
import graft.pipeline.{Extract, PageRow}
import graft.url.PyUrl

/** Spans: named intervals (epoch nanoseconds) with the span that caused
  * them and the run they belong to. Kept in memory, written once at the end. */
final class Spans(run: String) {
  private final class S(val name: String, val start: Long, var end: Long, val parent: Int)
  private val all = ArrayBuffer.empty[S]
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var current = -1
  def now(): Long = base + System.nanoTime()
  /** Adds a finished span under the innermost open one. */
  def add(name: String, start: Long, end: Long): Int = synchronized {
    all += new S(name, start, end, current); all.size - 1
  }
  def open(name: String): Int = synchronized {
    val id = add(name, now(), -1L); current = id; id
  }
  /** Closes span `id` and logs it to stderr, so every run's log shows
    * where its time went. */
  def close(id: Int, end: Long = now()): Unit = synchronized {
    val s = all(id)
    s.end = end; current = s.parent
    System.err.println(f"[graftbench] ${s.name}%-20s ${(s.end - s.start) / 1e9}%8.3f s")
  }
  /** Seconds of the latest span called `name`, 0 when there is none. */
  def lastSeconds(name: String): Double = synchronized {
    all.reverseIterator.find(_.name == name).map(s => (s.end - s.start) / 1e9).getOrElse(0.0)
  }
  def toJson: String = synchronized {
    all.zipWithIndex.map { case (s, id) =>
      s"""{"id":$id,"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"run":${Json.str(run)}}"""
    }.mkString("[", ",\n", "]")
  }
}

/** Per-job record from the listener: description, final stage's call site,
  * and the task metrics of all its stages. */
final class JobRec(val id: Int, val desc: String, val callSite: String,
                   val details: String, val startMs: Long) {
  @volatile var endMs: Long = -1
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  /** Task durations per stage, for skew. */
  val taskMs = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Long]]
}

/** Collects per-job task metrics, keyed by job description and call site. */
final class StageListener extends SparkListener {
  @volatile var enabled = false
  val jobs = ArrayBuffer.empty[JobRec]
  private val byStage = scala.collection.mutable.HashMap.empty[Int, JobRec]
  private val byId = scala.collection.mutable.HashMap.empty[Int, JobRec]

  /** SQL execution id → (call site, long call site) of the action. With
    * adaptive execution most jobs are submitted from a pool thread, so
    * their own call site names no user code; their execution's does. */
  private val execs = scala.collection.mutable.HashMap.empty[Long, (String, String)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if enabled =>
      synchronized { execs(s.executionId) = (s.description, s.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val site = prop("spark.sql.execution.id").flatMap(id => execs.get(id.toLong))
      .getOrElse {
        val last = if (e.stageInfos.isEmpty) null else e.stageInfos.maxBy(_.stageId)
        if (last == null) ("", "") else (last.name, last.details)
      }
    val j = new JobRec(e.jobId, prop("spark.job.description").getOrElse(""),
      site._1, site._2, e.time)
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(byStage(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      j.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def clear(): Unit = synchronized { jobs.clear(); byStage.clear(); byId.clear(); execs.clear() }
  def snapshot(): Seq[JobRec] = synchronized(jobs.toList)
}

object StageListener {
  /** Sums over a set of jobs. */
  final case class Agg(jobs: Int, tasks: Int, cpuS: Double, gcS: Double,
                       shuffleWriteMb: Double, spillMb: Double, skew: Double)

  def agg(js: Seq[JobRec]): Agg = {
    // skew of the stage with the most task time: max task / median task
    val stages = js.flatMap(_.taskMs.toSeq)
    val skew =
      if (stages.isEmpty) 0.0
      else {
        val ts = stages.maxBy(_._2.sum)._2.sorted
        if (ts.isEmpty) 0.0 else ts.last.toDouble / math.max(1L, ts(ts.size / 2))
      }
    Agg(js.size, js.map(_.tasks).sum, js.map(_.cpuNs).sum / 1e9, js.map(_.gcMs).sum / 1e3,
      js.map(_.shuffleWrite).sum / 1e6, js.map(_.spill).sum / 1e6, skew)
  }
}

/** JVM and box probes taken around the timed region. */
final class Probes {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def gcMs: Long = gcs.map(_.getCollectionTime).sum
  def jitMs: Long = if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L
  def cpuNs: Long = os.getProcessCpuTime

  /** CPU of the JIT compiler threads, from /proc (10 ms resolution; 0
    * where /proc is missing). A short benchmark JVM compiles for its whole
    * life, which a long-running job does not, so `cpu_s` leaves it out. */
  def jitCpuNs: Long =
    try {
      val tasks = new java.io.File("/proc/self/task").listFiles()
      if (tasks == null) 0L
      else tasks.toSeq.map { t =>
        val stat = java.nio.file.Files.readString(new java.io.File(t, "stat").toPath)
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")) {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10000000L
        } else 0L
      }.sum
    } catch { case _: Exception => 0L }
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

  /** (steal, total) jiffies of the whole box from /proc/stat. */
  def stealJiffies: (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def load1: Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }
}

/**
 * Per-page replay: the layers of `Extract.extractPage`, called through their
 * public functions in `Extract.dispatch`'s order, each timed from outside.
 * `extractPage` on the same rows gives the total the layers must explain.
 */
object Replay {
  val Layers = Array("html.decode", "html.parse", "html.serialize", "meta.extract",
    "links.edges", "links.anchors", "url.is_internal", "clean.clean", "clean.sanitize",
    "pdf.extract", "pipeline.sha")
  private final val Decode = 0; private final val Parse = 1; private final val Ser = 2
  private final val Meta = 3; private final val Edges = 4; private final val Anchors = 5
  private final val Internal = 6; private final val Clean = 7; private final val Sanitize_ = 8
  private final val PdfL = 9; private final val Sha = 10

  final case class Counts(bytes: Long, edges: Long, textChars: Long)

  /** One pass over `rows`; adds each layer's nanos into `acc`. */
  def pass(rows: Array[PageRow], acc: Array[Long]): Counts = {
    var bytes = 0L; var edgeN = 0L; var chars = 0L
    var sink = 0
    rows.foreach { row =>
      var t = System.nanoTime()
      @inline def lap(k: Int): Unit = { val n = System.nanoTime(); acc(k) += n - t; t = n }
      bytes += row.html.length
      sink += Extract.urlBucket(row.url, Extract.DefaultBuckets)
      sink += Hash.hexSha256(row.html).length; lap(Sha)
      if (PdfText.isPdf(row.html)) {
        val s = PdfText.extract(row.html); lap(PdfL)
        if (s != null) chars += s.length
      } else {
        val content = HtmlParser.decode(row.html); lap(Decode)
        val head = content.take(256)
        if (head.startsWith("<?xml") && !head.contains("<html")) {
          val doc = HtmlParser.parse(content, xmlMode = true); lap(Parse)
          chars += Cleaner.normalizedText(doc).length; lap(Clean)
          sink += Serializer.serialize(doc, content.length + 64).length; lap(Ser)
        } else if (!head.contains("<")) {
          chars += Cleaner.cleanPlainText(content).length; lap(Clean)
        } else {
          val doc = HtmlParser.parse(content); lap(Parse)
          sink += MetadataExtractor.extract(doc, row.url).hashCode; lap(Meta)
          val es = LinkExtractor.edges(doc, row.url); lap(Edges)
          sink += LinkExtractor.anchorIds(doc).size; lap(Anchors)
          chars += Cleaner.cleanDocument(doc, row.url).length; lap(Clean)
          val ix = Sanitize.indexPostClean(doc)
          Sanitize.updateAssetReferences(row.url, ix)
          Sanitize.processHtmlContent(doc, row.url, ix); lap(Sanitize_)
          sink += Serializer.serialize(doc, content.length + 64).length; lap(Ser)
          // as Extract.isInternal: both urls parsed for every edge
          es.foreach(e => if (PyUrl.urlparse(row.url).netloc == PyUrl.urlparse(e.dstUrl).netloc) sink += 1)
          edgeN += es.size; lap(Internal)
        }
      }
    }
    if (sink == 42) System.err.print("") // keep the results alive
    Counts(bytes, edgeN, chars)
  }

  /** Nanos of `Extract.extractPage` over `rows`. */
  def extractPagePass(rows: Array[PageRow]): Long = {
    val t0 = System.nanoTime()
    var sink = 0
    rows.foreach(r => sink += Extract.extractPage(r, Extract.DefaultBuckets).links.size)
    if (sink == -1) System.err.print("")
    System.nanoTime() - t0
  }
}

/** Minimal JSON writing. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
