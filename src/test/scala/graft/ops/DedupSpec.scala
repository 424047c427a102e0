package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{SparkTestBase, TempDirs}
import org.apache.spark.sql.graftbridge.CacheEntries

/** Dedup operators over a synthetic corpus with PLANTED exact and near
  * duplicates (testdata documents are all unique, so the operators' recall
  * is proven here). */
class DedupSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while the rain " +
    "in spain stays mainly on the plain and the cat sat on the mat watching"
  private val docs = {
    val rows =
      (0 until 40).map(i => (i.toLong, s"unique document number $i about topic ${i % 7} " +
        s"with content words ${"alpha beta gamma delta".split(" ")(i % 4)} repeated $i times")) ++
      Seq(
        (100L, base), (101L, base), // exact dups
        (102L, base.replace("lazy dog", "sleepy dog")), // near dup
        (103L, base.replace("rain in spain", "snow in maine")), // near dup
        (104L, "completely different text about spark shuffles and catalyst optimizer rules"))
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, keeps min id") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    val dupGroup = groups.filter($"n" > 1).collect()
    assert(dupGroup.length == 1)
    assert(dupGroup(0).getAs[Long]("keeper") == 100L)
    assert(dupGroup(0).getAs[Long]("n") == 2L)
    val drops = Dedup.exactDropIds(docs, "doc_id", "text").as[Long].collect()
    assert(drops.toSet == Set(101L))
  }

  test("minhash LSH finds planted near-dups, verified jaccard is high") {
    val cands = Dedup.lshCandidatePairs(docs, "doc_id", "text", numPerm = 64, bands = 16)
    val verified = Dedup.verifyJaccard(cands, docs, "doc_id", "text")
      .filter($"jaccard" >= 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(verified.contains((100L, 101L)))
    assert(verified.contains((100L, 102L)) || verified.contains((101L, 102L)), verified.toString)
    assert(verified.contains((100L, 103L)) || verified.contains((101L, 103L)))
    // no false positives against the unrelated doc
    assert(!verified.exists(p => p._1 == 104L || p._2 == 104L))
  }

  test("incremental LSH: equals the batch candidate set minus old–old pairs") {
    // corpus = even ids (with dup cluster members 100/102/104), batch = odd
    val oldDocs = docs.filter(pmod($"doc_id", lit(2)) === 0)
    val newDocs = docs.filter(pmod($"doc_id", lit(2)) === 1)
    val idxFps = Dedup.fingerprints(oldDocs, "doc_id", "text", numPerm = 64)
    val inc = Dedup.incrementalLshPairs(newDocs, "doc_id", "text",
        Dedup.minhashBands(idxFps, bands = 16),
        idxFps.select($"id", $"minhash"), numPerm = 64, bands = 16)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // every pair involves at least one NEW (odd) id — never old–old
    assert(inc.nonEmpty && inc.forall(p => p._1 % 2 == 1 || p._2 % 2 == 1))
    // identical to the batch run over the full corpus, filtered to >=1 new
    val batch = Dedup.lshCandidatePairs(docs, "doc_id", "text", numPerm = 64, bands = 16)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      .filter(p => p._1 % 2 == 1 || p._2 % 2 == 1)
    assert(inc == batch)
    // the planted cross-split near-dups surface (100-101 exact, 101 new)
    assert(inc.contains((100L, 101L)))
  }

  test("incremental LSH over a persisted band index round-trips") {
    val dir = tempDir("graft_bandidx")
    val oldDocs = docs.filter(pmod($"doc_id", lit(2)) === 0)
    val newDocs = docs.filter(pmod($"doc_id", lit(2)) === 1)
    Dedup.writeBandIndex(oldDocs, "doc_id", "text", dir,
      numPerm = 64, bands = 16, numBuckets = 4)
    val viaIndex = Dedup.incrementalLshPairs(newDocs, "doc_id", "text",
        spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/sigs"),
        numPerm = 64, bands = 16)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val idxFps = Dedup.fingerprints(oldDocs, "doc_id", "text", numPerm = 64)
    val direct = Dedup.incrementalLshPairs(newDocs, "doc_id", "text",
        Dedup.minhashBands(idxFps, bands = 16),
        idxFps.select($"id", $"minhash"), numPerm = 64, bands = 16)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(viaIndex == direct && viaIndex.nonEmpty)
  }

  test("simhash pairs: exact dups always found; near-dups found when within the blocking guarantee") {
    import graft.textstats.TextAnalysis
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 7)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100L, 101L))) // hamming 0
    val h102 = TextAnalysis.hamming64(TextAnalysis.simhash(base),
      TextAnalysis.simhash(base.replace("lazy dog", "sleepy dog")))
    if (h102 <= 7) // 8x8-bit multi-index guarantees recall only to hamming 7
      assert(pairs.exists(p => p._2 == 102L || p._1 == 102L), s"h=$h102")
    // verified pairs never exceed the threshold
    val over = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 7)
      .filter($"hamming" > 7).count()
    assert(over == 0)
  }

  test("simhash default blocking is 4x16-bit; first-match dedup emits each pair once") {
    assert(Dedup.blockCount(3) == 4)  // 16-bit blocks → 65,536 buckets/index
    assert(Dedup.blockCount(7) == 8)
    assert(Dedup.blockCount(5) == 8)  // rounds up to the next divisor of 64
    assert(Dedup.blockCount(0) == 1)
    // exact dups (hamming 0) match in ALL 4 blocks; without the
    // first-matching-block predicate the pair would appear 4 times
    val rows = Dedup.simhashPairs(docs, "doc_id", "text") // default maxHamming=3
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
    assert(rows.contains((100L, 101L)))
    assert(rows.size == rows.distinct.size, s"duplicate pairs: $rows")
  }

  test("simhash blocking stays selective on a larger corpus (no quadratic bucket)") {
    // 20k distinct docs + 1 planted exact dup: with 16-bit blocks the
    // equality joins produce ~no random collisions, so the result is just
    // the planted pair family — the r01 8x8-bit default would have pushed
    // ~20k²/32 candidate rows through the join on data this size.
    def txt(i: Int) = s"document $i speaks about ${i % 997} subjects and lists ${i * 7 % 101} items with suffix ${i % 13}"
    val big = ((0 until 20000).map(i => (i.toLong, txt(i))) ++
      Seq((90000L, txt(1234)))) // exact clone of doc 1234
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(big, "doc_id", "text")
      .select($"id_a", $"id_b", $"hamming").collect()
    assert(pairs.exists(r => r.getLong(0) == 1234L && r.getLong(1) == 90000L))
    assert(pairs.length < 5000, s"blocking degenerated: ${pairs.length} pairs")
  }

  test("minhash LSH skew guard reports truncation deterministically") {
    val m = new Dedup.LshMetrics(spark)
    // 12 exact copies → every band bucket holds 12 ids; maxBucket=5 keeps
    // the 5 smallest and counts 7 dropped per bucket
    val clones = (0 until 12).map(i => (i.toLong, base)).toDF("doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(clones, "doc_id", "text",
      numPerm = 32, bands = 16, maxBucket = 5, metrics = Some(m))
    val got = pairs.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // deterministic keeper set: smallest 5 ids → C(5,2) pairs
    assert(got == (for { a <- 0 until 5; b <- (a + 1) until 5 } yield (a.toLong, b.toLong)).toSet)
    assert(m.truncatedBuckets.value == 16L, s"buckets=${m.truncatedBuckets.value}")
    assert(m.truncatedRows.value == 16L * 7, s"rows=${m.truncatedRows.value}")
  }

  // ---------- embedding-cosine near-dup ----------

  /** Deterministic pseudo-random unit-ish vector. */
  private def vec(seed: Int, dim: Int = 16): Array[Float] = {
    import graft.textstats.TextAnalysis.hash64
    Array.tabulate(dim)(i =>
      (hash64(s"v$seed/$i").toDouble / Long.MaxValue).toFloat)
  }

  private val embRows = {
    val v0 = vec(1000)
    val near = v0.clone(); near(0) = near(0) + 0.01f // tiny perturbation
    ((0 until 40).map(i => (i.toLong, vec(i))) ++
      Seq((200L, v0), (201L, v0), (202L, near))).toDF("vec_id", "embedding")
  }

  test("embedding near-dup: identical vectors are always candidates with cos 1") {
    val pairs = Dedup.embeddingNearDupPairs(embRows, "vec_id", "embedding",
      minCosine = 0.9)
    val got = pairs.select($"id_a", $"id_b", $"cos")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    // identical vectors share every table's bucket — candidate guaranteed
    assert(got.contains((200L, 201L)))
    assert(got((200L, 201L)) == 1.0)
    // the perturbed clone: candidate iff it shares >=1 bucket (deterministic)
    import graft.textstats.TextAnalysis.rhpBucket
    val near = embRows.filter($"vec_id" === 202L)
      .select($"embedding").as[Array[Float]].head()
    val v0 = embRows.filter($"vec_id" === 200L)
      .select($"embedding").as[Array[Float]].head()
    val shares = (0 until 8).exists { t =>
      val s = 42L + t * 0x9E3779B97F4A7C15L
      rhpBucket(v0, 6, s) == rhpBucket(near, 6, s)
    }
    if (shares) {
      assert(got.contains((200L, 202L)), got.keySet.toString)
      assert(got((200L, 202L)) >= 0.99)
    }
  }

  test("embedding near-dup: cosine matches the scalar recompute; random vectors filtered out") {
    import graft.textstats.TextAnalysis
    val all = Dedup.verifyCosine(
      Dedup.embeddingCandidatePairs(embRows, "vec_id", "embedding"),
      embRows, "vec_id", "embedding")
      .as[(Long, Long, Double)].collect()
    assert(all.nonEmpty)
    val byId = embRows.as[(Long, Array[Float])].collect().toMap
    all.foreach { case (a, b, c) =>
      val expect = BigDecimal(TextAnalysis.cosine(byId(a), byId(b)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(c == expect, s"($a,$b): $c vs $expect")
    }
    // near-dup threshold excludes the unrelated random vectors
    val nd = Dedup.embeddingNearDupPairs(embRows, "vec_id", "embedding", 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(nd.forall { case (a, b) => a >= 200L && b >= 200L }, nd.toString)
  }

  test("embedding near-dup: bucket shuffle carries (table_key, id) only and the skew guard reports") {
    // schema of the shuffled frame: two longs — never the vector
    val bk = Dedup.embeddingBuckets(embRows, "vec_id", "embedding")
    assert(bk.schema.fieldNames.toSeq == Seq("table_key", "id"))
    assert(bk.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType))
    // 12 identical vectors, maxBucket=5 → smallest 5 kept per bucket,
    // truncation REPORTED (8 tables × 1 bucket each)
    val m = new Dedup.LshMetrics(spark)
    val clones = (0 until 12).map(i => (i.toLong, vec(7))).toDF("vec_id", "embedding")
    val got = Dedup.embeddingCandidatePairs(clones, "vec_id", "embedding",
      maxBucket = 5, metrics = Some(m))
      .as[(Long, Long)].collect().toSet
    assert(got == (for { a <- 0 until 5; b <- (a + 1) until 5 } yield (a.toLong, b.toLong)).toSet)
    assert(m.truncatedBuckets.value == 8L, s"buckets=${m.truncatedBuckets.value}")
    assert(m.truncatedRows.value == 8L * 7, s"rows=${m.truncatedRows.value}")
  }

  test("zero vectors yield NULL cosine, not an ANSI divide-by-zero crash") {
    val emb = Seq((1L, Array(0f, 0f, 0f)), (2L, Array(1f, 2f, 2f)),
        (3L, Array(2f, 1f, 2f))).toDF("vec_id", "embedding")
    // pair path (verifyCosine)
    val pairs = Dedup.verifyCosine(
      Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"), emb, "vec_id", "embedding")
      .orderBy($"id_a").collect()
    assert(pairs(0).isNullAt(2), "zero-vector pair must have null cos")
    assert(!pairs(1).isNullAt(2) && pairs(1).getDouble(2) > 0.8)
    // query path (Similarity.cosineToQuery): zero ROW vector → null row;
    // zero QUERY vector → all null (orderBy desc puts nulls last, so
    // top-k still works)
    val q = emb.select($"vec_id",
      Similarity.cosineToQuery("embedding", Array(1f, 2f, 2f)).as("c")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(q(1L) == null && q(2L) != null)
    val allNull = emb.select(
      Similarity.cosineToQuery("embedding", Array(0f, 0f, 0f)).as("c")).collect()
    assert(allNull.forall(_.isNullAt(0)))
  }

  test("bitsFor derives scale-safe hyperplane counts (VERDICT r03 wrong #2 table)") {
    assert(Dedup.bitsFor(0) == 6 && Dedup.bitsFor(1000) == 6)
    assert(Dedup.bitsFor(100000) == 13)
    assert(Dedup.bitsFor(10000000L) == 20)
    assert(Dedup.bitsFor(1000000000L) == 26)
    assert(Dedup.bitsFor(1000000000000L) == 36)
    assert(Dedup.bitsFor(Long.MaxValue) == 48) // clamped below the table byte
  }

  test("1e5 vectors, derived defaults: recall does not collapse, skew guard silent") {
    // The r3 failure mode: bits=6 fixed → 64 buckets/table → every bucket
    // holds ~n/64 ids and maxBucket=1000 silently discards almost all of
    // them. With AutoBits the expected occupancy is ~16, the guard never
    // fires, and planted near-dups survive as candidates.
    val n = 100000
    val planted = 50
    val rows = ((0 until n).iterator.map(i => (i.toLong, vec(i))) ++
      (0 until planted).iterator.map { i =>
        val v = vec(i); v(0) = v(0) + 0.01f // near-identical clone of id i
        ((n + i).toLong, v)
      }).toSeq.toDF("vec_id", "embedding").repartition(32)
    val m = new Dedup.LshMetrics(spark)
    val cands = Dedup.embeddingCandidatePairs(rows, "vec_id", "embedding",
      metrics = Some(m)) // bits = AutoBits → bitsFor(100050) = 13
    val hits = cands.filter($"id_b" === $"id_a" + n && $"id_a" < planted).count()
    assert(hits >= planted * 9 / 10, s"recall collapsed: $hits/$planted planted pairs")
    assert(m.truncatedBuckets.value == 0L,
      s"skew guard fired on balanced data: ${m.truncatedBuckets.value} buckets")
  }

  test("paragraph dedup removes globally repeated paragraphs, keeps order") {
    val boiler = "subscribe now"
    val rows = Seq(
      (1L, s"$boiler\n\nunique one\n\nmiddle A\n\n$boiler"),     // boiler twice in one doc
      (2L, s"unique two\n\n$boiler\n\nmiddle B"),
      (3L, s"$boiler\n\nunique three"),
      (4L, s"$boiler"),                                           // all-boilerplate doc
      (5L, "rare pair\n\nunique five"),
      (6L, "rare pair\n\nunique six"))                            // "rare pair" in only 2 docs
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(rows, "doc_id", "text", maxDocs = 2)
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.size == 6) // every input doc present
    // boiler occurs in 4 distinct docs > 2 → removed everywhere
    assert(out(1L) == (("unique one\n\nmiddle A", 2)))
    assert(out(2L) == (("unique two\n\nmiddle B", 1)))
    assert(out(3L) == (("unique three", 1)))
    assert(out(4L) == (("", 1))) // survives as a row, text emptied
    // "rare pair" is in only 2 distinct docs = threshold → kept
    assert(out(5L) == (("rare pair\n\nunique five", 0)))
    assert(out(6L) == (("rare pair\n\nunique six", 0)))
  }

  test("paragraph dedup count shuffle carries hashes, not text") {
    val rows = Seq((1L, "a\n\nb"), (2L, "a\n\nc")).toDF("doc_id", "text")
    val plan = Dedup.paragraphDedup(rows, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    // the occurrence-count aggregate groups on md5(__para) and aggregates
    // the id only — the paragraph text is pruned below the exchange
    assert(plan.contains("count(distinct __id"), plan.take(2000))
  }

  test("duplicatedSpans finds a shared span at DIFFERENT offsets; uniques and short docs stay clean") {
    val block = "By accessing this website you agree to be bound by these terms " +
      "and conditions of use all materials are provided as is without warranty " +
      "of any kind either express or implied including but not limited to the " +
      "implied warranties of merchantability and fitness for a particular purpose"
    val rows = Seq(
      (1L, s"doc one opens with its own words then $block and closes uniquely"),
      (2L, s"$block trailed by a completely different second document body here"),
      (3L, "entirely unique third document with no shared license span at all " +
        "just ordinary prose about spark catalyst expression trees and shuffles " +
        "that keeps going long enough to produce several anchored windows too " +
        "so the zero-dup assertion is meaningful rather than vacuous here"),
      (4L, "short"), // < k chars: no windows at all
      (5L, null.asInstanceOf[String])) // null text: no windows, no crash
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(rows, "doc_id", "text")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 5)
    // the block is ~300 chars → anchors are content-defined, so both docs
    // report the SAME shared windows despite different embedding offsets
    assert(out(1L)._3 > 0, s"doc 1 saw no dup windows: ${out(1L)}")
    assert(out(2L)._3 > 0, s"doc 2 saw no dup windows: ${out(2L)}")
    assert(out(3L)._2 > 0 && out(3L)._3 == 0, s"unique doc polluted: ${out(3L)}")
    assert(out(4L) == ((4L, 0L, 0L, false)))
    assert(out(5L) == ((5L, 0L, 0L, false)))
    // determinism across evaluations
    val again = Dedup.duplicatedSpans(rows, "doc_id", "text")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(again == out)
  }

  test("duplicatedSpans digest shuffle groups 16-hex digests, never text") {
    val rows = Seq((1L, "a" * 100), (2L, "b" * 100)).toDF("doc_id", "text")
    val plan = Dedup.duplicatedSpans(rows, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("count(distinct __id"), plan.take(2000))
  }

  test("fingerprints deterministic across evaluations") {
    val a = Dedup.fingerprints(docs, "doc_id", "text").orderBy($"id")
      .select($"id", $"simhash").as[(Long, Long)].collect().toSeq
    val b = Dedup.fingerprints(docs, "doc_id", "text").orderBy($"id")
      .select($"id", $"simhash").as[(Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("connected components: chains, diamonds, and singleton pairs resolve transitively") {
    // chain 1-2-3-4, diamond 10-11/10-12/11-13/12-13, pair 20-21,
    // plus a pair given in descending order and a duplicate edge
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 13L), (12L, 13L),
      (21L, 20L), (20L, 21L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
    val drops = Dedup.componentDropIds(pairs).as[Long].collect().toSet
    assert(drops == Set(2L, 3L, 4L, 11L, 12L, 13L, 21L))
  }

  test("connected components: long path converges in O(log n) star rounds, not diameter") {
    // a 256-node path has diameter 255; large/small-star needs ~log2 rounds.
    // maxIter=14 would stall naive min-label propagation long before 255.
    val path = (0L until 255L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // localFinishEdges = 0 pins the pure-distributed star rounds
    val comps = Dedup.connectedComponents(path, maxIter = 14, localFinishEdges = 0L)
      .as[(Long, Long)].collect()
    assert(comps.length == 256)
    assert(comps.forall(_._2 == 0L))
  }

  test("connected components: size-gated local finish matches the distributed fixed point") {
    // chains + diamonds + an isolated pair, shuffled orientation
    val pairs = (Seq((9L, 3L), (3L, 7L), (40L, 41L), (12L, 11L), (11L, 10L),
      (10L, 13L), (13L, 12L)) ++ (100L until 140L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, localFinishEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
    assert(local(9L) == 3L && local(41L) == 40L && local(139L) == 100L)
  }

  test("connected components: empty and self-pair inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).isEmpty)
    // self-pairs carry no connectivity and are dropped entirely
    val selfs = Seq((5L, 5L), (6L, 7L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(selfs).as[(Long, Long)].collect().toMap
    assert(comps == Map(6L -> 6L, 7L -> 6L))
  }

  test("connected components compose with the LSH pair family on the planted corpus") {
    val cands = Dedup.lshCandidatePairs(docs, "doc_id", "text", numPerm = 64, bands = 16)
    val verified = Dedup.verifyJaccard(cands, docs, "doc_id", "text")
      .filter($"jaccard" >= 0.5).select($"id_a", $"id_b")
    val comps = Dedup.connectedComponents(verified)
      .as[(Long, Long)].collect().toMap
    // 100..103 all cluster to 100 (102~103 only via transitivity through 100/101)
    assert(Seq(100L, 101L, 102L, 103L).forall(comps(_) == 100L))
    assert(!comps.contains(104L))
  }

  test("nearDupDropList: end-to-end drop list keeps one doc per cluster") {
    val drops = Dedup.nearDupDropList(docs, "doc_id", "text",
        numPerm = 64, bands = 16, minJaccard = 0.5)
      .as[(Long, Long)].collect().toMap
    // cluster 100..103: keeper 100 stays, the rest map to it
    assert(!drops.contains(100L))
    assert(Seq(101L, 102L, 103L).forall(drops(_) == 100L))
    // unique docs are never dropped
    assert((0L until 40L).forall(!drops.contains(_)))
  }

  test("nearDupDropList releases its minhash signature cache") {
    val before = CacheEntries(spark)
    val drops = Dedup.nearDupDropList(docs, "doc_id", "text",
      numPerm = 64, bands = 16, minJaccard = 0.5).collect()
    assert(drops.nonEmpty)
    assert(CacheEntries(spark) == before)
  }

  // ---- SemDeDup (semantic dedup over embedding clusters) ----

  private val semCentroids = Array(
    Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
  private val semEmb = Seq(
    (1L, Array(1f, 0f, 0f, 0f)),        // cell 0 representative
    (2L, Array(0.99f, 0.01f, 0f, 0f)),  // cell 0, ~identical to 1 -> drop
    (3L, Array(0.7f, 0f, 0.714f, 0f)),  // cell 0, cos to 1 = 0.70 -> keep
    (4L, Array(0f, 1f, 0f, 0f)),        // cell 1 representative
    (5L, Array(0.01f, 0.995f, 0f, 0f)), // cell 1, ~identical to 4 -> drop
    (6L, Array(0f, 0.6f, 0.8f, 0f)),    // cell 1, cos to 4 = 0.60 -> keep
    (7L, Array(0.72f, 0.69f, 0f, 0f)),  // cell 0 \ near-identical PAIR split
    (8L, Array(0.69f, 0.72f, 0f, 0f)),  // cell 1 / across the cell boundary
    (9L, Array(0.992f, 0.008f, 0f, 0f)) // cell 0, nearest to DROPPED 2
  ).toDF("vec_id", "embedding")

  test("semanticDropList: planted in-cluster dups drop, representatives survive") {
    val drops = Dedup.semanticDropList(semEmb, "vec_id", "embedding",
        minCosine = 0.95, centroids = semCentroids)
      .select($"drop_id", $"trigger_id").as[(Long, Long)].collect().toMap
    // cell-0 affinity ranking: 1 (1.0) > 9 (0.999967) > 2 (0.999949) > ...
    // so 9 drops against the representative and 2 against 9 (see next test)
    assert(drops.contains(9L) && drops(9L) == 1L)
    assert(drops.contains(2L))
    assert(drops.contains(5L) && drops(5L) == 4L)
    // distinct members stay
    assert(!drops.contains(1L) && !drops.contains(3L) &&
      !drops.contains(4L) && !drops.contains(6L))
    // the documented SemDeDup recall boundary: 7 and 8 are near-identical
    // (cos ~0.9995) but land in DIFFERENT cells, so neither is dropped
    assert(!drops.contains(7L) && !drops.contains(8L))
  }

  test("semanticDropList: trigger is the max-cos earlier partner and need not survive") {
    val rows = Dedup.semanticDropList(semEmb, "vec_id", "embedding",
        minCosine = 0.95, centroids = semCentroids)
      .select($"drop_id", $"trigger_id").as[(Long, Long)].collect().toMap
    // 2's earlier-ranked neighbors are 1 (cos 0.999949) and 9
    // (cos 0.999998): the trigger is 9 even though 9 is itself dropped —
    // the upper-triangular rule of the public SemDeDup implementation,
    // no transitive closure
    assert(rows(2L) == 9L)
  }

  test("semanticClusters: squared-L2 argmin assignment, affinity rounded to 6") {
    val cl = Dedup.semanticClusters(semEmb, "vec_id", "embedding", semCentroids)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(cl(1L) == ((0, 1.0)))
    assert(cl(4L) == ((1, 1.0)))
    assert(cl(7L)._1 == 0 && cl(8L)._1 == 1) // boundary pair splits
    assert(cl(3L)._1 == 0 && math.abs(cl(3L)._2 - 0.7 / math.sqrt(0.7 * 0.7 + 0.714 * 0.714)) < 1e-6)
    // rounded to 6 decimals (the oracle-compared-double convention)
    assert(cl.values.forall { case (_, c) =>
      c == BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble })
  }

  test("clustersFor derives a constant target cluster size (bitsFor precedent)") {
    assert(Dedup.clustersFor(100L) == 2)             // floor
    assert(Dedup.clustersFor(1024L) == 2)
    assert(Dedup.clustersFor(100000L) == 196)        // ceil(1e5/512)
    assert(Dedup.clustersFor(1000000L) == 1954)
    assert(Dedup.clustersFor(1000000000L) == 4096)   // maxK cap
    // per-cluster pair volume stays ~targetClusterSize^2 under the cap
    val n = 100000L
    assert(n / Dedup.clustersFor(n) <= 512 + 1)
  }

  test("semanticDropList: maxCluster guard bounds pair generation, never crashes") {
    val drops = Dedup.semanticDropList(semEmb, "vec_id", "embedding",
        minCosine = 0.95, centroids = semCentroids, maxCluster = 2)
      .select($"drop_id").as[Long].collect().toSet
    // with only the top-2 ranked per cell participating, 9 (rank 2 in cell
    // 0) and 5 (rank 2 in cell 1) are still caught; 2 (rank 3) is beyond
    // the cap — recall loss, not an error
    assert(drops.contains(9L) && drops.contains(5L) && !drops.contains(2L))
  }

  test("winnowOverlap: shared-paragraph pair surfaces, stop-fingerprint " +
      "filter kills universal boilerplate, unique docs pair with nobody") {
    import spark.implicits._
    val boiler = "this exact boilerplate footer appears on every single page"
    val shared = "a distinctive shared passage about winnowing fingerprints " +
      "that appears in exactly two documents of this corpus"
    val docs = Seq(
      (1L, s"$boiler unique opening words one $shared"),
      (2L, s"$boiler different middle content here $shared"),
      (3L, s"$boiler totally unrelated text about gardening and weather"),
      (4L, s"$boiler another unique document about sailing boats"))
      .toDF("doc_id", "text")
    // boiler is in 4/4 docs -> df = 4 > maxDocFreq = 3 -> filtered out
    val out = Dedup.winnowOverlap(docs, "doc_id", "text",
        maxDocFreq = 3L, minShared = 2L)
      .as[(Long, Long, Long)].collect()
    assert(out.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(out.head._3 >= 2L)
    // with the stop filter OFF the boilerplate pairs everyone with everyone
    val all = Dedup.winnowOverlap(docs, "doc_id", "text",
        maxDocFreq = 100L, minShared = 2L)
      .as[(Long, Long, Long)].collect()
    assert(all.map(p => (p._1, p._2)).toSet.size == 6) // C(4,2)
  }
}
