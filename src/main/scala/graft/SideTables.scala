package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity}
import graft.pipeline.{Extract, PagesGen}

/**
 * Materializes the oracle SIDE TABLES `SparkEntry.oracleSql` references
 * by absolute path (VERDICT r01 next #1): extraction outputs produced
 * through the full `Extract.run` WRITE path (so the oracle compare pins
 * write-path ≡ direct-map-path equivalence), and per-row scalar columns
 * (fingerprints, LSH bands, simhash blocks, shingle-hash sets, cosines)
 * whose RELATIONAL consumption (pair generation, joins, rollups, top-k)
 * the oracle re-derives independently in DuckDB.
 *
 * Every write is `coalesce(1)` — these are sf0.01-scale verification
 * artifacts, not production outputs.
 */
object SideTables {

  private def rmrf(p: java.io.File): Unit = {
    if (p.isDirectory) p.listFiles().foreach(rmrf)
    p.delete()
  }

  def write(spark: SparkSession, sfDir: String, side: String): Unit = {
    import spark.implicits._

    def out(name: String) = s"$side/$name"
    def save(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(out(name))

    // ---- extraction side tables: through the full pipeline write path ----
    val runDir = out("_extract_run")
    rmrf(new java.io.File(runDir)) // fresh ledger: no resume skipping
    Extract.run(spark, PagesGen.pages(spark, SparkEntry.ExtractN), runDir, "verify")
    val docs = spark.read.parquet(s"$runDir/docs_clean")
    save(docs.select($"url", $"content_sha256", $"content_kind", $"url_bucket",
      length($"text").as("text_len"), $"parse_failed"), "side_docs")
    save(docs.select($"url"), "side_urls")
    save(docs.select($"meta.url".as("url"), $"meta.canonical".as("canonical")), "side_meta")
    // full metadata through the doc_meta SIDECAR write path (not the
    // nested column) — pins sidecar-derive ≡ direct-map for metadata too
    save(spark.read.parquet(s"$runDir/doc_meta")
      .select($"url", $"title", $"description", $"keywords",
        $"last_modified_iso", $"canonical", $"lang",
        size($"structured_data").as("n_structured")), "side_meta_full")
    save(spark.read.parquet(s"$runDir/links")
      .select($"src_url", $"dst_url", $"kind", $"src_tag", $"anchor", $"is_internal"),
      "side_links")
    // anchors can be EMPTY (no parquet footer to infer from) — pin the schema
    save(spark.read.schema("url STRING, anchor_id STRING, url_bucket INT")
      .parquet(s"$runDir/anchors").select($"url", $"anchor_id"),
      "side_anchors")

    // ---- Myers diff sides: per-op rows + per-url meta + raw pair
    // contents (the oracle re-aggregates the ops AND recomputes the
    // metadata md5s with DuckDB's own md5) ----
    val pairs = SparkEntry.changedSnapshotPairs(spark)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    save(pairs, "side_diff_pairs")
    val diffOps = pairs.as[(String, String, String)].flatMap { case (url, o, n) =>
      try graft.diff.Myers.generateOps(o, n).zipWithIndex.map { case (op, i) =>
        (url, i, op.operation)
      } catch { case _: Exception => Nil }
    }.toDF("url", "op_idx", "operation")
    val diffMeta = pairs.as[(String, String, String)].map { case (url, o, n) =>
      try {
        (url, graft.diff.Myers.optimizedChunks(o, n).length, false)
      } catch { case _: Exception => (url, -1, true) }
    }.toDF("url", "n_changed_chunks", "diff_failed")
    save(diffOps, "side_diff_ops")
    save(diffMeta, "side_diff_meta")
    pairs.unpersist()

    // ---- failure-taxonomy input: urls + payload presence; the oracle
    // derives each row's expected class from this structure alone ----
    save(PagesGen.poisonedPages(spark, SparkEntry.PoisonN)
      .select($"url", $"html".isNotNull.as("has_payload")), "side_poison")

    // ---- as-of join inputs: the q_asof_join oracle re-derives the join
    // itself (inequality join + argmax) from these two relations alone ----
    save(SparkEntry.asofSnaps(spark), "side_asof_snaps")
    save(SparkEntry.asofProbes(spark), "side_asof_probes")

    // ---- priority history + sitemap entries (fully relational oracles) ----
    save(PagesGen.pages(spark, SparkEntry.ExtractN)
      .select($"url", $"warc_ts".as("last_updated")), "side_pages")
    save(graft.sources.Sitemap.entries(
      graft.sources.Sitemap.syntheticSitemapPages(spark)), "side_sitemap")

    // ---- robots gate: the fuzz-pinned PARSE layer exported as relations
    // (frontier match paths + status flags + entries/agents/rules); the
    // q_robots_filter oracle re-derives selection + first-match in DuckDB
    val rbFrontier = graft.ops.Frontier.frontierPaths(
      spark.read.parquet(s"$runDir/links").select($"dst_url".as("url")).distinct())
    save(rbFrontier, "side_rb_frontier")
    val rbRobots = graft.ops.Frontier.syntheticRobots(rbFrontier, "host")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    save(rbRobots.join(
      graft.ops.Frontier.hostPolicies(rbRobots, SparkEntry.RobotsAgent)
        .select($"host", $"parse_failed"), Seq("host"))
      .select($"host", $"status", $"parse_failed"), "side_rb_hosts")
    val (rbEntries, rbAgents, rbRules) =
      graft.ops.Frontier.robotsParsedTables(rbRobots)
    save(rbEntries, "side_rb_entries")
    save(rbAgents, "side_rb_agents")
    save(rbRules, "side_rb_rules")
    rbRobots.unpersist()

    // ---- WARC ingestion: raw file hex + boundary triples exported; the
    // q_warc_records oracle re-parses headers/HTTP/digests from the hex
    // and pins the boundaries with the offset-tiling condition ----
    val warcBytes = graft.sources.Warc.syntheticWarcBytes(
      SparkEntry.WarcN, withBroken = true)
    save(Seq(("synthetic.warc", warcBytes)).toDF("path", "content")
      .select($"path", lower(hex($"content")).as("file_hex")), "side_warc_file")
    save(graft.sources.Warc.records(
        Seq(("synthetic.warc", warcBytes)).toDF("path", "content"))
      .toDF().select($"rec_idx", $"offset".as("rec_offset"), $"total_len",
        $"parse_error"), "side_warc_recs")

    // ---- per-row scalar frames (deterministic recompute gates) ----
    save(SparkEntry.boilerFrame(spark), "side_boiler")
    save(SparkEntry.mediaFrame(spark), "side_media")
    // raw payload hex: the oracle re-derives kind + PNG/GIF fixed-offset
    // dims + the JPEG marker chain + the WAV chunk walk from these bytes
    save(graft.ops.Multimodal.syntheticMedia(spark, 200)
      .select($"media_id", hex($"payload").as("ph")), "side_media_raw")
    // raw resized payloads / frame windows — the oracle recomputes
    // octet_length + md5(hex(...)) from the bytes themselves
    save(graft.ops.Multimodal.withResized(
        graft.ops.Multimodal.syntheticMedia(spark, 200), "payload", 32, 24)
      .select($"media_id", $"resized",
        $"resized_meta.width".as("width"), $"resized_meta.height".as("height")),
      "side_resized")
    save(graft.ops.Multimodal.explodeFrames(
        graft.ops.Multimodal.withSampledFrames(
          graft.ops.Multimodal.syntheticMedia(spark, 100), "payload", 4, 40L),
        "media_id"),
      "side_frames")
    save(SparkEntry.textstatsFrame(spark, sfDir)
      .select($"doc_id", $"lang_detected"), "side_textstats")
    // zlib level-6 size per doc: the pinned scalar for
    // q_compression_ratio (golden-gated vs CPython zlib; DuckDB cannot
    // deflate) — the oracle re-derives n_bytes/ratio/flags independently
    save(SparkEntry.zlibFrame(spark, sfDir), "side_zlib")
    // PII / paragraph corpora: the INPUT rows for q_pii_mask and
    // q_paragraph_dedup — DuckDB re-derives both operators from these
    save(SparkEntry.piiCorpus(spark, sfDir), "side_pii_docs")
    // anchor-bearing link rows: the INPUT for the anchor-stats query — DuckDB
    // re-derives the whole per-target anchor rollup from these
    save(graft.queries.Graph.anchorCorpus(spark, sfDir), "side_anchor_links")
    // encoding-damage rows: the INPUT for q_encoding_quality — DuckDB
    // re-runs the identical damage regexes + flag cross-multiply
    save(SparkEntry.mojiCorpus(spark, sfDir), "side_mojidocs")
    save(SparkEntry.paraCorpus(spark, sfDir), "side_paradocs")
    // per-doc winnowing fingerprints over the paragraph corpus: the
    // pinned scalars for q_winnow_overlap (the JVM rolling-hash winnow is
    // golden/spec-gated); the oracle re-derives the stop-fingerprint
    // filter, self-join, and pair counts relationally
    save(graft.ops.Dedup.winnowFingerprints(
      SparkEntry.paraCorpus(spark, sfDir), "doc_id", "text"), "side_winnow")
    // near-dup pair rows: the INPUT for q_dedup_components — DuckDB
    // re-derives the transitive closure with WITH RECURSIVE
    save(SparkEntry.dupPairsCorpus(spark, sfDir), "side_dup_pairs")
    // benchmark/eval rows: the INPUT for q_decontaminate — DuckDB
    // re-derives the full 13-gram overlap from these + documents
    save(SparkEntry.benchCorpus(spark, sfDir), "side_bench")
    // repetition-structured rows: the INPUT for q_repetition — DuckDB
    // re-derives every Gopher signal + the threshold flag from these
    save(SparkEntry.repCorpus(spark, sfDir), "side_repdocs")
    // normalization-bearing rows: the INPUT for q_text_normalize — DuckDB
    // re-runs NFC + newline/control canonicalization with its own engine
    save(SparkEntry.normCorpus(spark, sfDir), "side_normdocs")
    // shared-span rows: the INPUT for q_dup_spans — DuckDB re-derives the
    // content-defined anchors, window digests, and per-doc counts
    save(SparkEntry.spanCorpus(spark, sfDir), "side_spandocs")
    // "next snapshot" rows: the INPUT for q_corpus_delta — DuckDB
    // re-derives the full-outer membership/hash classification
    save(SparkEntry.newCorpus(spark, sfDir), "side_newdocs")
    // per-source-dup-rate rows: the INPUT for q_source_stats — DuckDB
    // re-derives the governance rollup + blocklist flag
    save(SparkEntry.srcDupCorpus(spark, sfDir), "side_srcdocs")

    // ---- dedup primitives over the documents table (params MUST match
    // the q_minhash/q_simhash/q_doc_fingerprints queries) ----
    val documents = spark.read.parquet(s"$sfDir/documents.parquet")
    val fps = Dedup.fingerprints(documents, "doc_id", "text", numPerm = 32)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    save(fps, "side_fp")
    save(Dedup.minhashBands(fps, bands = 16), "side_bands")
    save(Dedup.simhashBlocks(fps, maxHamming = 3), "side_simblocks")
    val shingleSets = documents.select($"doc_id".cast("long").as("id"), $"text")
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, graft.textstats.TextAnalysis.shingles(text, 3)
          .distinct.map(graft.textstats.TextAnalysis.hash64).sorted.toArray)
      }.toDF("id", "sh")
    save(shingleSets, "side_shingles")
    fps.unpersist()

    // ---- ANN side: bucket + probe membership + exact cosine per vector ----
    val q = SparkEntry.queryVec(spark, sfDir)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter($"vec_id" =!= 0)
    val probes = Similarity.probesFor(q, bits = 8, nProbes = 4)
    save(Similarity.withBucket(emb, "embedding", bits = 8)
      .select($"vec_id", $"lsh_bucket".isin(probes: _*).as("in_probe"),
        round(Similarity.cosineToQuery("embedding", q), 6).as("cos")),
      "side_ann")
    val cents = SparkEntry.ivfCentroids(spark, sfDir)
    val ivfProbes = Similarity.ivfProbes(q, cents, nProbes = 4)
    save(Similarity.withIvfCell(emb, "embedding", cents)
      .select($"vec_id", $"ivf_cell".isin(ivfProbes: _*).as("in_probe"),
        round(Similarity.cosineToQuery("embedding", q), 6).as("cos")),
      "side_ivf")
    // SemDeDup centroid table: the ONE exported artifact q_semantic_dedup
    // needs — assignment, affinity ranking, pairwise cosine, and the drop
    // rule are all re-derived in DuckDB from it + raw embeddings
    save(Dedup.centroidFrame(spark, cents), "side_semcents")

    // ---- embedding near-dup: per-table RHP-LSH bucket keys (params MUST
    // match q_embedding_neardup; the oracle re-derives the candidate join
    // and recomputes cosine from the raw embeddings table) ----
    save(Dedup.embeddingBuckets(emb, "vec_id", "embedding", bits = 6, tables = 8),
      "side_embbuckets")
  }
}
