package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * IVF × BQ composed ANN — cell pruning over 1-bit sign codes, the way
 * production binary-quantized vector stores actually deploy BQ (probe a
 * few cells, Hamming-rank the 8 B codes inside them, exact-rerank an
 * oversampled pool): [[IvfIndex]] prunes WHICH codes are read (a probe
 * opens nprobe/nlist of the cell directories — dynamic partition
 * pruning, same layout discipline as [[IvfPqIndex]]), [[BqIndex]]
 * compresses WHAT is read (one BIGINT per vector, one XOR + POPCNT per
 * pair — the cheapest first pass of the whole ladder, 4× lighter than
 * PQ codes at m=8/k=16).
 *
 * The composed tier combines the two cheapest mechanisms on the board:
 * at 100 TB a query reads ~8 B · n · nprobe/nlist of code bytes plus r
 * float vectors for the rerank — against flat BQ's full 8 B/vector scan
 * and the float index's 256 B/vector probe.
 *
 * Model state is the COARSE quantizer alone — BQ's sign encode is
 * training-free ([[BqIndex.codeColumn]]: invariant under L2
 * normalization's positive scaling), so the layout stamp derives from
 * the coarse centroids plus a scheme tag, and the code half of the
 * oracle replays as fully literal SQL.
 */
object IvfBqIndex {

  /** Layout identity: the coarse centroids determine the cells, the "bq"
    * tag separates this CODE layout from the same model's float layout
    * ([[IvfIndex.writeIndex]]) so a float-index reader never passes the
    * stamp check against a code layout. */
  def fingerprintOf(coarse: IvfIndex.Model): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update("bq:".getBytes("UTF-8"))
    md.update(coarse.fingerprint.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The persisted rows: sign codes with their IVF cell assignment —
    * (vec_id, cell, code), 8 B of payload per vector. */
  private def encoded(corpus: DataFrame, coarse: IvfIndex.Model): DataFrame =
    IvfIndex.assign(corpus, coarse)
      .select(col("vec_id"), col("cell"),
        BqIndex.codeColumn(col("embedding")).as("code"))

  /** Persist the code layout cell-partitioned (the shared [[IvfIndex]]
    * slice layout — crash-atomic base, stamped with the composed
    * fingerprint). */
  def writeIndex(corpus: DataFrame, coarse: IvfIndex.Model, path: String): Unit =
    IvfIndex.replaceRoot(encoded(corpus, coarse), path,
      Some(fingerprintOf(coarse)))

  /** Route NEW vectors into the existing code layout — batch-id-addressed
    * replay-idempotent slices, stamped with the writer's fingerprint AND
    * post-rename-verified (the full [[IvfIndex.appendSliceVerified]]
    * race-closure discipline: the common append-vs-rebuild interleaving
    * rolls the slice back and throws instead of leaving an orphan every
    * later read trips on). */
  def appendToIndex(delta: DataFrame, coarse: IvfIndex.Model, path: String): Unit = {
    appendToIndex(delta, coarse, path,
      IvfIndex.nextBatchId(delta.sparkSession, path))
    ()
  }

  /** Batch-id-addressed append (the [[IvfIndex.appendToIndex]] streaming
    * overload, code-layout flavor): false = slice existed, replay
    * skipped — what lets [[graft.streaming.VectorIngest.startWith]] run
    * an exactly-once ingest stream against the BQ layout. */
  def appendToIndex(delta: DataFrame, coarse: IvfIndex.Model, path: String,
      batchId: Long): Boolean = {
    val spark = delta.sparkSession
    IvfIndex.requireModelMatches(spark, path, fingerprintOf(coarse))
    IvfIndex.appendSliceVerified(encoded(delta, coarse), path, batchId,
      fingerprintOf(coarse))
  }

  /** The BQ layout's measured recall/cost curve —
    * [[IvfIndex.probeCurveWith]] over the cell-pruned Hamming search at
    * the probed-mass rerank pool, so the service CLI's build/rebuild can
    * ship a MEASURED serving decision with the composed artifact exactly
    * as the float path does (`n` = corpus size, for the pool scaling). */
  def probeCurve(spark: SparkSession, path: String, corpus: DataFrame,
      queries: DataFrame, coarse: IvfIndex.Model, k: Int, n: Long): DataFrame =
    IvfIndex.probeCurveWith(spark, path, corpus, queries, coarse, k)(
      (q, np) => searchIndex(spark, path, corpus, q, coarse, k, np,
        r = math.max(k, scaledProbedPool(n, coarse.nlist, np))))

  /** Retrain the COARSE stage on the current corpus and re-encode —
    * the repair for a drifted code layout ([[IvfPqIndex.rebuildIndex]]'s
    * shape, in the cheap case: BQ's sign encode is training-free, so
    * only the coarse quantizer retrains). The code layout carries no
    * floats, so the corpus frame is required — at scale it is the table
    * the index was built from. Crash-atomic and concurrent-writer-
    * guarded by [[IvfIndex.commitRebuild]]'s staging discipline (live
    * set snapshotted BEFORE training); returns the new coarse model —
    * the new generation's stamp rejects stale-model search/append
    * loudly, same contract as the float rebuild. */
  def rebuildIndex(spark: SparkSession, path: String, corpus: DataFrame,
      nlist: Int, iters: Int = 3): IvfIndex.Model = {
    val snapshot = IvfIndex.liveSliceDirs(spark, path)
    val coarse = IvfIndex.train(corpus, nlist, iters, stratifiedSeeds = true)
    IvfIndex.commitRebuild(spark, path, encoded(corpus, coarse),
      Some(fingerprintOf(coarse)), snapshot)
    coarse
  }

  /**
   * Cell-pruned Hamming first pass + exact rerank over a persisted code
   * layout. Per query: probe the `nprobe` closest cells (equi-join on
   * `cell` against the broadcast query side → dynamic partition pruning
   * skips every other cell directory), rank candidates by
   * `dim − bit_count(xor)` (exact integer — the cross-engine tie rule is
   * just (ham desc, vec_id asc)), keep the top `r`, re-score those r
   * float vectors exactly, top `k` wins.
   */
  def searchIndex(spark: SparkSession, path: String, corpus: DataFrame,
      queries: DataFrame, coarse: IvfIndex.Model, k: Int, nprobe: Int,
      r: Int): DataFrame = {
    require(r >= k, "rerank pool must be at least k")
    IvfIndex.requireModelMatches(spark, path, fingerprintOf(coarse))
    val codes = IvfIndex.readIndex(spark, path) // (vec_id, code, cell)
    // query side: sign code + probed cells, each in its OWN projection
    // (the HOF re-eval trap — see PqIndex.encode)
    val q = queries
      .select(col("vec_id").as("query_id"),
        BqIndex.codeColumn(col("embedding")).as("qcode"),
        IvfIndex.probeCellsColumn(coarse, col("embedding"), nprobe).as("_pc"))
      .select(col("query_id"), col("qcode"), explode(col("_pc")).as("probe"))
      .select(col("query_id"), col("qcode"), col("probe.cell").as("cell"))
    val scored = codes.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        BqIndex.hammingSim(col("code"), col("qcode")).as("ham"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("ham").desc, col("vec_id").asc)
    val cands = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= r)
      .select("query_id", "vec_id")
    PqIndex.rerankExact(cands, corpus, queries, k)
  }

  /** Rerank pool for the composed tier: [[Similarity.scaledCandidates]]'s
    * corpus-fraction discipline applied to the PROBED mass `n·nprobe/
    * nlist` (flat bq scales its pool to the whole corpus because its
    * first pass sweeps the whole corpus; here the first pass only ever
    * sees the probed fraction, so the oversample tracks that) — exact
    * integer arithmetic, so the oracle derives the identical r from
    * count(*). */
  def scaledProbedPool(n: Long, nlist: Int, nprobe: Int): Int =
    Similarity.scaledCandidates(n * nprobe / nlist)

  /** Query-pack adapter: the SHARED pack coarse model (one session model
    * — the cachedModel contract holds for the oracle generators), code
    * layout persisted once, first 5 vectors, k = 10, heuristic probe
    * (the tier ladder's standard), probed-mass rescore pool. */
  def ivfbqQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val coarse = IvfIndex.packModel(spark, sfDir)
    val dir = graft.WorkDirs.once(s"ivfbq_$sfDir")(writeIndex(emb, coarse, _))
    val nprobe = IvfIndex.scaledNprobe(coarse.nlist)
    val r = scaledProbedPool(
      graft.sources.Tables.rowCount(spark, sfDir, "embeddings"),
      coarse.nlist, nprobe)
    searchIndex(spark, dir, emb, emb.filter(col("vec_id") < 5), coarse,
      k = 10, nprobe = nprobe, r = r)
  }
}
