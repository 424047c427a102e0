package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The Iceberg-bucket(url) story, demonstrated locally with Spark bucketed
  * tables: url-keyed dedup/joins over a `bucketBy(url)` table plan WITHOUT
  * a shuffle exchange on the payload side (SURVEY §4.2). */
class BucketedSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("url-keyed window over a bucketed pages table plans without Exchange") {
    spark.sql("DROP TABLE IF EXISTS pages_bucketed")
    PagesGen.pages(spark, 200L)
      .write.bucketBy(8, "url").sortBy("url")
      .option("path", tempDir("graft_bucket"))
      .saveAsTable("pages_bucketed")

    val t = spark.table("pages_bucketed").as[PageRow]
    val latest = Extract.latestPerUrlWindow(t)
    val plan = latest.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle:\n${plan.take(1500)}")
    // correctness unchanged vs the generic path
    assert(latest.count() == Extract.latestPerUrl(t).count())
  }

  test("changed-only join scans narrow projections, never the html payload on the prev side") {
    // prev side is docs_clean-shaped: the compare must read ONLY
    // (url, content_sha256, size) — ~60 B/row — from it (SURVEY §4.2:
    // change detection never shuffles payloads)
    val dir = tempDir("graft_prev_proj") + "/prev"
    PagesGen.pages(spark, 50L)
      .select($"url", sha2($"html", 256).as("content_sha256"),
        length($"html").cast("long").as("size"), $"html".as("cleaned_html"),
        $"warc_ts")
      .write.parquet(dir)
    val prev = spark.read.parquet(dir)
    val changed = Extract.changedOnly(PagesGen.pages(spark, 60L), prev)
    val plan = changed.queryExecution.executedPlan.toString
    // the prev-side parquet scan's ReadSchema must exclude the heavy column
    val prevScans = plan.linesIterator.filter(l =>
      l.contains("graft_prev_proj") && l.contains("ReadSchema")).toList ++
      plan.split("Scan parquet").filter(_.contains("graft_prev_proj"))
    assert(prevScans.exists(s => !s.contains("cleaned_html")),
      s"prev scan reads the payload:\n${plan.take(2000)}")
    assert(changed.count() > 0)
  }

  test("bijectiveBucketRemap: one bucket per shuffle partition for every " +
      "bucket count (the write-stage straggler fix)") {
    import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
    import org.apache.spark.sql.types.IntegerType
    Seq(4, 16, 64, 1000).foreach { n =>
      val remap = Extract.bijectiveBucketRemap(n)
      assert(remap.length == n)
      // candidates step by n, so the remapped value still identifies its
      // bucket by residue
      (0 until n).foreach(b => assert(((remap(b) % n) + n) % n == b))
      val parts = remap.map { v =>
        val h = Murmur3HashFunction.hash(v, IntegerType, 42L)
        (((h % n) + n) % n).toInt
      }
      assert(parts.toSet.size == n,
        s"n=$n: remap is not injective into partitions")
    }
  }

  test("bucketed self-join on url avoids both exchanges") {
    val t = spark.table("pages_bucketed")
    val a = t.select($"url", $"warc_ts")
    val b = t.select($"url".as("url2"), length($"html").as("sz"))
    val joined = a.join(b, a("url") === b("url2")).withColumn("j", lit(1))
    val plan = joined.queryExecution.executedPlan.toString
    // broadcast is fine; a url-keyed SHUFFLE is what bucketing must avoid
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle:\n${plan.take(1500)}")
    assert(joined.count() > 0)
  }
}
