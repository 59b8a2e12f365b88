package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Training-dataset export with an integrity manifest — the hand-off step
 * between the curation pipeline and the training dataloader: the corpus
 * is written as deterministic shards (the rerun-stable
 * [[CorpusPipeline.shardCorpus]] assignment), and a MANIFEST records per
 * shard what the dataloader should find: document count, token count,
 * and a content digest.
 *
 * The digest is `bit_xor(xxhash64(doc_id, text))` — order-free (xor
 * commutes, so the partitioning that wrote the shard cannot change it),
 * overflow-free, and cheap to recompute. [[verifyExport]] re-reads the
 * SHARD FILES (not the source) and recomputes every manifest column —
 * a truncated, corrupted, or double-written shard surfaces as a
 * mismatch row, which is the audit a 100 TB hand-off actually needs
 * (re-reading is one pruned scan per shard partition).
 */
object DatasetExport {

  private def digest = bit_xor(xxhash64(col("doc_id"), col("text")))

  private def tokenCount =
    size(TextAnalysis.whitespaceTokens(col("text"))).cast("long")

  /** Write `docs` as `numShards` deterministic shard partitions under
    * `outDir` and the manifest next to them. Returns the manifest. */
  def exportShards(docs: DataFrame, outDir: String, numShards: Int): DataFrame = {
    val assigned = docs
      .join(CorpusPipeline.shardCorpus(docs, numShards)
        .select("doc_id", "shard"), Seq("doc_id"))
    assigned.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$outDir/shards")
    val manifest = assigned.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount).as("n_tokens"),
        digest.as("content_hash"))
    manifest.write.mode("overwrite").parquet(s"$outDir/manifest")
    manifest
  }

  /** Recompute every manifest column from the exported shard files and
    * compare: one row per shard with the recomputed stats and a match
    * flag per column family. */
  def verifyExport(spark: SparkSession, outDir: String): DataFrame = {
    val manifest = spark.read.parquet(s"$outDir/manifest")
      .withColumnRenamed("n_docs", "m_docs")
      .withColumnRenamed("n_tokens", "m_tokens")
      .withColumnRenamed("content_hash", "m_hash")
    val actual = spark.read.parquet(s"$outDir/shards")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount).as("n_tokens"),
        digest.as("content_hash"))
    actual.join(manifest, Seq("shard"), "full_outer")
      .select(col("shard").cast("bigint").as("shard"),
        col("n_docs"), col("n_tokens"),
        (col("n_docs") <=> col("m_docs") &&
          col("n_tokens") <=> col("m_tokens") &&
          col("content_hash") <=> col("m_hash")).as("manifest_ok"))
  }

  // Incremental (streaming) export --------------------------------------

  /**
   * Append one micro-batch to an incremental export. Layout:
   * `outDir/shards/batch=<id>/shard=<s>/…` for the documents and
   * `outDir/manifest/batch=<id>/…` for that batch's per-shard manifest
   * DELTA rows. Shard assignment is the same deterministic per-doc rule
   * as [[exportShards]] (hash of doc_id — batch-independent), and the
   * xor digest is MERGEABLE: xor of per-batch digests == digest of the
   * union, so the global manifest is an aggregation of deltas, never a
   * re-read of history.
   *
   * Crash/replay discipline (the CellStoreIngest contract): both writes
   * go to batch-ID-addressed directories in OVERWRITE mode, so a
   * replayed foreachBatch (the checkpoint's at-least-once window)
   * rewrites its own two directories and nothing else — the replay is
   * idempotent, and a crash between the two writes is healed by the
   * replay that follows. Shard data commits via the parquet job
   * protocol's rename-in, so readers never see a half-written batch.
   */
  def appendBatch(batch: DataFrame, outDir: String, numShards: Int,
      batchId: Long): Unit = {
    val assigned = batch
      .join(CorpusPipeline.shardCorpus(batch, numShards)
        .select("doc_id", "shard"), Seq("doc_id"))
    assigned.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$outDir/shards/batch=$batchId")
    assigned.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount).as("n_tokens"),
        digest.as("content_hash"))
      .write.mode("overwrite").parquet(s"$outDir/manifest/batch=$batchId")
  }

  /** Verify an incremental export: per-shard manifest TOTALS (sum counts,
    * xor digests across batch deltas) against a recompute from the shard
    * files themselves. Same audit semantics as [[verifyExport]] — a
    * truncated, orphaned, or double-written batch directory surfaces as
    * a mismatch row on every shard it touched. */
  def verifyIncremental(spark: SparkSession, outDir: String): DataFrame = {
    val manifest = spark.read.parquet(s"$outDir/manifest")
      .groupBy("shard")
      .agg(sum(col("n_docs")).as("m_docs"),
        sum(col("n_tokens")).as("m_tokens"),
        bit_xor(col("content_hash")).as("m_hash"))
    val actual = spark.read.parquet(s"$outDir/shards")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount).as("n_tokens"),
        digest.as("content_hash"))
    actual.join(manifest, Seq("shard"), "full_outer")
      .select(col("shard").cast("bigint").as("shard"),
        col("n_docs"), col("n_tokens"),
        (col("n_docs") <=> col("m_docs") &&
          col("n_tokens") <=> col("m_tokens") &&
          col("content_hash") <=> col("m_hash")).as("manifest_ok"))
  }

  /** Query-pack adapter: export the documents corpus as 8 shards into
    * the per-JVM scratch root (build-once) and emit the verification. */
  def exportAuditQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val out = graft.WorkDirs.once(s"export_$sfDir") {
      exportShards(Tables.load(spark, sfDir, "documents"), _, 8)
    }
    verifyExport(spark, out)
  }

  /** Query-pack adapter for the INCREMENTAL export path: the corpus
    * arrives as three disjoint micro-batches (`doc_id % 3` — the
    * streaming shape, each appended via [[appendBatch]]'s idempotent
    * batch-addressed layout), then [[verifyIncremental]] audits the
    * merged per-shard manifest TOTALS (summed counts, xor-merged
    * digests) against a recompute from the shard files. Batching
    * partitions the corpus, so the oracle is the same full-corpus
    * shard recompute as q_export_audit — a green row proves the
    * delta manifests merge to exactly the batch-oblivious truth. */
  def exportIncrQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val out = graft.WorkDirs.once(s"export_incr_$sfDir") { out =>
      val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
      (0 until 3).foreach { b =>
        appendBatch(docs.filter(pmod(col("doc_id"), lit(3L)) === b), out, 8, b)
      }
    }
    verifyIncremental(spark, out)
  }

  /**
   * The training-data export CAPSTONE — the already-verified pieces
   * composed exactly the way a real training-data job runs them:
   *
   *   clean ([[CorpusPipeline.clean]]: quality gate → lang allowlist →
   *   exact dedup → near-dup drop) → epoch-0 reshuffle
   *   ([[EpochShuffle.shuffleKey]], seed 20260815) → deterministic
   *   md5 shards → greedy next-fit packing in shuffle-key order
   *   ([[CorpusPipeline.packSequencesOrdered]], 256-token budget) →
   *   sharded file export with a verified integrity manifest
   *   ([[exportShards]]/[[verifyExport]]).
   *
   * Emits one row per shard: docs, packed sequences, tokens, and
   * `manifest_ok` = the engine's file-level audit (xor-digest re-read
   * match AND export/pack doc counts agreeing). The oracle replays
   * clean + key + shard + pack relationally and asserts the same
   * booleans — so a regression anywhere in the chain (a stage reordered,
   * a shard misassigned, a bin split drifting) flips a driver hash
   * mismatch, not just a spec inequality.
   *
   * 100 TB shape: no stage adds a shuffle beyond its own contract —
   * clean's window/band shuffles, ONE groupBy(shard) for packing (the
   * shuffle the sharded write needs anyway), metadata-sized audit join;
   * the reshuffle key and shard bucket are narrow projections
   * (plan-shape spec pins the exchange count).
   */
  def corpusExportE2eQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    // materialize = true (round 18): clean()'s gated window subtree
    // otherwise replays once per downstream consumer (band self-join ×2,
    // star branch, anti-join, pack, export). Identical output
    // (spec-asserted); the plan-shape spec's exchange bound still holds —
    // the boundary only REMOVES exchanges from the capstone plan.
    val cleaned = CorpusPipeline.clean(docs, materialize = true)
    val (a, b) = EpochShuffle.epochParams(20260815L, 0)
    val keyed = cleaned
      .withColumn("_skey", EpochShuffle.shuffleKey(col("doc_id"), a, b))
      .withColumn("_shard", CorpusPipeline.shardColumn(8))
    val packed = CorpusPipeline.packSequencesOrdered(
      keyed, col("_shard"), col("_skey"), budget = 256L)
    val packStats = packed.groupBy(col("grp").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        (max(col("bin")) + 1L).as("n_seqs"),
        sum(col("n_tokens")).as("n_tokens"))

    val out = graft.WorkDirs.once(s"export_e2e_$sfDir") {
      exportShards(cleaned.select("doc_id", "text"), _, 8)
    }
    val audit = verifyExport(spark, out).select(
      col("shard"), col("n_docs").as("x_docs"), col("manifest_ok").as("x_ok"))
    packStats.join(audit, Seq("shard"))
      .select(col("shard"), col("n_docs"), col("n_seqs"), col("n_tokens"),
        (col("x_ok") && col("n_docs") === col("x_docs")).as("manifest_ok"))
  }
}
