package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{NamedExpression, PosExplode, StringSplit}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.SparkTestBase

class RetrievalSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Independent local BM25 (same rational-IDF variant + quantization),
    * plain Scala collections — the differential reference. Rows sharing
    * an id (None: a null id) are one doc; a null id is left out of N but
    * its tokens count in the total and its doc in df; a query term listed
    * twice contributes twice. Ranks by (score DESC, id ASC, null first). */
  private def localBm25On(docs: Seq[(Option[Long], Option[String])],
                          terms: Seq[String],
                          k: Int): Seq[(Option[Long], Long, Int)] = {
    val tokenized = docs.groupBy(_._1).toSeq
      .map { case (id, rows) => id -> rows.flatMap(_._2)
        .flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty)) }
      .filter(_._2.nonEmpty)
    val n = tokenized.count(_._1.isDefined).toDouble
    val tt = tokenized.map(_._2.size.toLong).sum.toDouble
    val avgdl = tt / n
    val dfm = tokenized.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.size.toDouble }
    val scores = tokenized.flatMap { case (id, ts) =>
      val dl = ts.size.toDouble
      val tfm = ts.groupBy(identity).map { case (t, xs) => t -> xs.size.toDouble }
      terms.filter(tfm.contains).map { t =>
        val df = dfm(t)
        val tf = tfm(t)
        val idf = ((n - df) + 0.5) / (df + 0.5)
        val tfs = (tf * (1.2 + 1.0)) /
          (tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl))
        id -> math.floor((idf * tfs) * 1048576.0).toLong
      }
    }.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).sum }.toSeq
    scores.sortBy { case (id, s) => (-s, id.isDefined, id.getOrElse(0L)) }
      .take(k).zipWithIndex.map { case ((id, s), i) => (id, s, i + 1) }
  }

  private val corpus = Seq(
    (1L, "apple banana apple cherry"),
    (2L, "banana banana banana"),
    (3L, "apple cherry cherry durian"),
    (4L, "durian elderberry fig grape hazelnut imbe jackfruit kiwi"),
    (5L, "apple apple apple apple banana"),
    (6L, "fig grape"),
    (7L, "cherry"),
    (8L, ""))

  private def opt(docs: Seq[(Long, String)]) =
    docs.map { case (id, t) => (Option(id), Option(t)) }

  private def localBm25(docs: Seq[(Long, String)], terms: Seq[String],
                        k: Int): Seq[(Option[Long], Long, Int)] =
    localBm25On(opt(docs), terms, k)

  private def sparkBm25On(docs: Seq[(Option[Long], Option[String])],
                          terms: Seq[String], k: Int) =
    Retrieval.bm25TopK(docs.toDF("doc_id", "text"), "doc_id", "text",
        Seq("q" -> terms), k = k)
      .as[(String, Option[Long], Long, Int)].collect()
      .sortBy(_._4).map(r => (r._2, r._3, r._4)).toSeq

  private def sparkBm25(terms: Seq[String], k: Int) =
    sparkBm25On(opt(corpus), terms, k)

  test("differential vs the independent local implementation") {
    for (terms <- Seq(Seq("apple"), Seq("banana", "cherry"),
        Seq("apple", "banana", "durian"), Seq("fig", "grape", "kiwi"))) {
      assert(sparkBm25(terms, 10) == localBm25(corpus, terms, 10),
        s"terms=$terms")
    }
  }

  test("k truncates by (score DESC, doc_id ASC)") {
    assert(sparkBm25(Seq("apple"), 2) == localBm25(corpus, Seq("apple"), 2))
    assert(sparkBm25(Seq("apple"), 2).size == 2)
  }

  test("query terms absent from the corpus contribute nothing") {
    assert(sparkBm25(Seq("zzz"), 5).isEmpty)
    assert(sparkBm25(Seq("cherry", "zzz"), 5) ==
      localBm25(corpus, Seq("cherry"), 5))
  }

  test("rarer terms outrank common ones at equal tf (IDF direction)") {
    // "durian" (df=2) should outscore "apple" (df=3) for a doc holding
    // one of each and nothing else distinguishing
    val out = sparkBm25(Seq("durian"), 10).map(_._1)
    assert(out.contains(Some(3L)) && out.contains(Some(4L)))
  }

  test("duplicate doc_id rows: tf and dl sum across the rows, N counts the id once") {
    val docs = opt(corpus) ++
      Seq((Some(1L), Some("apple kiwi")), (Some(6L), Some("cherry fig")))
    val merged = docs.groupBy(_._1).toSeq.map { case (id, rows) =>
      (id, Some(rows.flatMap(_._2).mkString(" "))) }
    for (terms <- Seq(Seq("apple"), Seq("cherry", "kiwi", "fig"))) {
      assert(sparkBm25On(docs, terms, 10) == localBm25On(docs, terms, 10),
        s"terms=$terms")
      assert(sparkBm25On(docs, terms, 10) == sparkBm25On(merged, terms, 10),
        s"terms=$terms")
    }
  }

  test("a null doc_id: out of N, its tokens in the total, first among equal scores") {
    val docs = opt(corpus) :+ ((None, Some("fig grape")))
    val out = sparkBm25On(docs, Seq("fig"), 10)
    assert(out == localBm25On(docs, Seq("fig"), 10))
    // the null-id doc and doc 6 hold the same text, so the same score
    assert(out.take(2).map(_._1) == Seq(None, Some(6L)))
    assert(out(0)._2 == out(1)._2)
  }

  test("null and whitespace-only text add no tokens and no docs") {
    val docs = opt(corpus) ++ Seq((Some(20L), None), (Some(21L), Some(" \t\n ")),
      (Some(22L), Some("  Apple  cherry ")))
    val terms = Seq("apple", "cherry")
    assert(sparkBm25On(docs, terms, 10) == localBm25On(docs, terms, 10))
    assert(sparkBm25On(docs, terms, 10) ==
      sparkBm25On(docs.filterNot(r => r._1.exists(Set(20L, 21L))), terms, 10))
  }

  test("a term repeated within one query contributes twice") {
    val terms = Seq("apple", "apple", "kiwi")
    val twice = sparkBm25(terms, 10)
    assert(twice == localBm25(corpus, terms, 10))
    val once = sparkBm25(Seq("apple", "kiwi"), 10).map(r => r._1 -> r._2).toMap
    val apple = sparkBm25(Seq("apple"), 10).map(r => r._1 -> r._2).toMap
    for ((id, score, _) <- twice)
      assert(score == once(id) + apple.getOrElse(id, 0L), s"id=$id")
  }

  test("a score tie at the k boundary keeps the smaller ids; k past the hits keeps all") {
    val docs = opt(corpus) ++ Seq(30L, 12L, 21L).map(i => (Some(i), Some("lime")))
    val top2 = sparkBm25On(docs, Seq("lime"), 2)
    assert(top2 == localBm25On(docs, Seq("lime"), 2))
    assert(top2.map(_._1) == Seq(Some(12L), Some(21L)) && top2(0)._2 == top2(1)._2)
    val all = sparkBm25On(docs, Seq("lime"), 50)
    assert(all == localBm25On(docs, Seq("lime"), 50))
    assert(all.map(_._1) == Seq(Some(12L), Some(21L), Some(30L)))
    assert(all.map(_._3) == Seq(1, 2, 3))
  }

  test("k below 1 is rejected: the bounded top-k needs k >= 1") {
    intercept[IllegalArgumentException](sparkBm25(Seq("apple"), 0))
  }

  /** Independent local TF-IDF keywords (same rational IDF + grid). */
  private def localKeywords(docs: Seq[(Long, String)],
                            m: Int): Map[Long, (String, Long)] = {
    val tokenized = docs
      .map { case (id, t) =>
        id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }
      .filter(_._2.nonEmpty)
    val n = tokenized.size.toDouble
    val dfm = tokenized.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.size.toDouble }
    tokenized.map { case (id, ts) =>
      val scored = ts.groupBy(identity).toSeq.map { case (t, xs) =>
        val idf = ((n - dfm(t)) + 0.5) / (dfm(t) + 0.5)
        t -> math.floor((xs.size.toDouble * idf) * 1048576.0).toLong
      }
      val top = scored.sortBy { case (t, q) => (-q, t) }.take(m)
      id -> ((top.map(_._1).mkString("|"), top.head._2))
    }.toMap
  }

  test("tfidfKeywords: differential vs the independent local implementation") {
    for (m <- Seq(1, 2, 4)) {
      val got = Retrieval.tfidfKeywords(corpus.toDF("doc_id", "text"),
          "doc_id", "text", m = m)
        .as[(Long, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == localKeywords(corpus, m), s"m=$m")
    }
  }

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

  test("executed plans tokenize the corpus once; no window after bm25 scoring") {
    val docs = corpus.toDF("doc_id", "text")
    def generates(p: SparkPlan) = Plans.collect(p) { case g: GenerateExec => g }
    def explodesCorpus(g: GenerateExec) =
      g.generator.children.exists(_.isInstanceOf[StringSplit])
    def windows(p: SparkPlan) = Plans.collect(p) { case w: WindowExec => w }

    val bm25 = finalPlan(Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("q1" -> Seq("apple", "cherry"), "q2" -> Seq("fig")), k = 3))
    val (tok, others) = generates(bm25).partition(explodesCorpus)
    assert(tok.size == 1, bm25)
    // the only other Generate unpacks the top-k arrays, at most k long
    assert(others.size == 1 && others.head.generator.isInstanceOf[PosExplode], bm25)
    val topKs = Plans.collect(bm25) { case a: ObjectHashAggregateExec =>
      a.aggregateExpressions.map(_.aggregateFunction) }.flatten
      .collect { case t: CollectTopK => t.num }
    assert(topKs.nonEmpty && topKs.forall(_ == 3), bm25)
    val scoring = Plans.collectFirst(bm25) { case a: HashAggregateExec
        if a.groupingExpressions.collect { case e: NamedExpression => e.name } ==
          Seq("query_id", "doc_id") => a }
    assert(scoring.isDefined, bm25)
    assert(windows(bm25).size == windows(scoring.get).size, bm25)

    val kw = finalPlan(Retrieval.tfidfKeywords(docs, "doc_id", "text", m = 2))
    assert(generates(kw).size == 1 && generates(kw).forall(explodesCorpus), kw)
  }
}
