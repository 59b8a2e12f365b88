package graft.operators

import graft.model.CellTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental near-dup detection — the streaming-corpus shape of MinHash
 * dedup: a corpus grows batch by batch, and each new batch must be checked
 * against EVERYTHING ingested so far without rescanning history.
 *
 * The accumulated state lives in two salted cell stores (the engine's own
 * DSv2 connector, so all pruning below is planner-enforced, not convention):
 *
 *  - index store  — rowKey = big-endian LSH bucket key, one cell per
 *    (bucket, doc): qualifier = big-endian doc id. The exact bucket keys
 *    [[Dedup.lshBuckets]] / [[Dedup.minhashLsh]] collide on.
 *  - corpus store — rowKey = big-endian doc id, value = document text.
 *
 * Per-batch work is proportional to BATCH size, never history size:
 *
 *  1. the batch's (doc, bucket) rows are computed (narrow, codegen);
 *  2. the index store is probed for those buckets — the batch side of the
 *     join is batch-bounded, so AQE broadcasts it and the scan receives a
 *     runtime `In(rowKey)` filter (`SupportsRuntimeFiltering`): non-matching
 *     bucket files are never opened;
 *  3. candidate old docs' texts are fetched from the corpus store the same
 *     way (runtime-filtered GETs on the candidate ids — a bounded set);
 *  4. candidates are verified with the exact sorted-merge Jaccard used
 *     everywhere else; within-batch pairs come from plain
 *     [[Dedup.minhashLsh]] over the (small) batch;
 *  5. the batch's index rows and texts are appended through the DSv2
 *     writer, which re-clusters them into the stores' salted layout — so
 *     step 2's pruning holds for every future batch too.
 *
 * Reference tie-in: this is the engine's CDC loop (`CellStoreIngest`)
 * carrying real analytical state, the HBase-style "table as accumulator"
 * pattern the reference tooling assumes (tables mutate in place; jobs scan
 * deltas) — SURVEY.md §1.4 / CopyRow.java:128-136 cell semantics.
 */
object IncrementalDedup {

  private val IndexFamily = "lsh"
  private val CorpusFamily = "doc"

  /** Batch docs -> index-store cells: rowKey = bucket key bytes. */
  private def indexCells(batch: DataFrame, numHashes: Int, bands: Int,
      shingleN: Int, ts: Long): DataFrame =
    Dedup.lshBuckets(batch, numHashes, bands, shingleN)
      .select(
        CellTable.bigEndianKey(col("bucket")).as("rowKey"),
        lit(IndexFamily).as("family"),
        CellTable.bigEndianKey(col("doc_id")).as("qualifier"),
        lit(ts).as("ts"),
        lit("Put").as("cellType"),
        lit(Array.empty[Byte]).as("value"))

  /** Batch docs -> corpus-store cells: rowKey = doc id bytes, value = text. */
  private def corpusCells(batch: DataFrame, ts: Long): DataFrame =
    batch.select(
      CellTable.bigEndianKey(col("doc_id")).as("rowKey"),
      lit(CorpusFamily).as("family"),
      lit("text").cast("binary").as("qualifier"),
      lit(ts).as("ts"),
      lit("Put").as("cellType"),
      col("text").cast("binary").as("value"))

  /** A store exists iff the salt manifest is present or at least one
    * committed store file is — NOT merely "directory is non-empty", which
    * would send a reused temp dir full of unrelated files through
    * `format("cellstore")` and yield garbage candidates. */
  private def storeExists(dir: String): Boolean = {
    val d = new java.io.File(dir)
    new java.io.File(d, "_cellstore_meta.json").exists() || {
      val fs = d.listFiles()
      fs != null && fs.exists(f => f.isFile && f.getName.endsWith(".parquet")
        && f.length() > 0)
    }
  }

  /**
   * Probe history + verify + append one batch.
   *
   * @return verified near-dup pairs touching the batch:
   *         (doc_a, doc_b, jaccard) with doc_a < doc_b — both the
   *         batch-vs-history pairs and the within-batch pairs.
   */
  def appendBatch(
      spark: SparkSession,
      indexDir: String,
      corpusDir: String,
      batch: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      buckets: Int = 8,
      ts: Long = 0L): DataFrame = {

    val batchCached = batch.select(col("doc_id"), col("text")).cache()
    try {
      val newBuckets = Dedup.lshBuckets(batchCached, numHashes, bands, shingleN)
        .select(CellTable.bigEndianKey(col("bucket")).as("rowKey"),
          col("doc_id").as("new_id"))

      val crossPairs: DataFrame =
        if (storeExists(indexDir)) {
          // 2. bucket probe — join ON THE STORE'S rowKey so the scan gets
          // the runtime In(rowKey) filter and skips non-matching buckets.
          val idx = spark.read.format("cellstore").load(indexDir)
            .select(col("rowKey"), CellTable.keyToLong(col("qualifier")).as("old_id"))
          val cand = idx.join(newBuckets, "rowKey")
            .select(col("old_id"), col("new_id"))
            .filter(col("old_id") =!= col("new_id"))
            .distinct()

          // 3. fetch candidate old docs (runtime-filtered GETs), 4. verify.
          val corpus = spark.read.format("cellstore").load(corpusDir)
            .select(col("rowKey"), col("value").cast("string").as("old_text"))
          val oldDocs = corpus.join(
              cand.select(CellTable.bigEndianKey(col("old_id")).as("rowKey")).distinct(),
              "rowKey")
            .select(CellTable.keyToLong(col("rowKey")).as("old_id"),
              Dedup.shingleHashes(col("old_text"), shingleN).as("sh_old"))
          val newSh = batchCached.select(col("doc_id").as("new_id"),
            Dedup.shingleHashes(col("text"), shingleN).as("sh_new"))

          val inter = graft.functions.MinHashFunctions
            .sorted_intersect_count(col("sh_old"), col("sh_new"))
          val uni = size(col("sh_old")).cast("long") +
            size(col("sh_new")).cast("long") - inter
          cand.join(oldDocs, "old_id").join(newSh, "new_id")
            .select(
              least(col("old_id"), col("new_id")).as("doc_a"),
              greatest(col("old_id"), col("new_id")).as("doc_b"),
              when(uni === 0, 0.0)
                .otherwise(inter.cast("double") / uni.cast("double")).as("jaccard"))
            .filter(col("jaccard") >= threshold)
        } else spark.emptyDataFrame
          .select(lit(0L).as("doc_a"), lit(0L).as("doc_b"), lit(0.0).as("jaccard"))
          .limit(0)

      // 4b. within-batch pairs: the plain pipeline over the (small) batch.
      val innerPairs = Dedup.minhashLsh(batchCached,
          numHashes, bands, shingleN, threshold)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))

      val result = crossPairs.unionByName(innerPairs)
        .groupBy("doc_a", "doc_b").agg(max(col("jaccard")).as("jaccard"))
      val materialized = result.cache()
      materialized.count() // settle results BEFORE the stores change

      // 5. append the batch's state through the DSv2 writer (salted layout).
      indexCells(batchCached, numHashes, bands, shingleN, ts)
        .write.format("cellstore")
        .option("buckets", buckets.toString).mode("append").save(indexDir)
      corpusCells(batchCached, ts)
        .write.format("cellstore")
        .option("buckets", buckets.toString).mode("append").save(corpusDir)

      materialized
    } finally batchCached.unpersist()
  }

  private val results = graft.Memo.frames[String]

  /** Query-pack adapter: replay the fixture corpus as TWO batches (even
    * then odd doc ids) through the incremental pipeline against fresh
    * session stores. Banding and verification are shared with
    * [[Dedup.minhashLsh]], so within-b1 ∪ (b1×b2 ∪ within-b2) pairs equal
    * the one-shot batch run over the whole corpus — which is exactly what
    * the ground-truth jaccard oracle recomputes. Memoized per sfDir
    * (appendBatch settles results eagerly), so Verify and the specs can
    * re-invoke without re-appending. */
  def incrementalQuery(spark: SparkSession, sfDir: String): DataFrame =
    results(sfDir) {
      val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      val base = java.nio.file.Files
        .createTempDirectory("graft_incr_query").toString
      val (ix, cp) = (s"$base/index", s"$base/corpus")
      val b1 = appendBatch(spark, ix, cp, docs.filter(col("doc_id") % 2 === 0))
      val b2 = appendBatch(spark, ix, cp, docs.filter(col("doc_id") % 2 =!= 0))
      b1.unionByName(b2)
        .groupBy("doc_a", "doc_b").agg(max(col("jaccard")).as("jaccard"))
    }
}
