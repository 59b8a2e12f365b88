package graft.operators

import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * IVF × PQ composed ANN (the IVFADC scheme of Jégou et al., TPAMI'11 §IV):
 * the corpus is coarse-quantized into `nlist` IVF cells and PQ-encoded, and
 * a query ADC-scans only its `nprobe` closest cells — IVF prunes WHICH data
 * is read, PQ compresses WHAT is read. This closes the 100 TB ANN story:
 * flat ADC ([[PqIndex.searchAdc]]) still sweeps every code (~3 TB at 100 TB
 * corpus even 32×-compressed); composed, a probe touches nprobe/nlist of
 * the codes, and dynamic partition pruning skips the rest at scan time.
 *
 * Design choices vs the paper:
 *  - DEFAULT codes are global-PQ over the L2-normalized vectors; residual
 *    PQ (the paper's §IV scheme: encode x̂ − c against codebooks trained
 *    on residuals, score as q̂·c + q̂·r̂) is available via
 *    `train(residual = true)`. Residuals concentrate what the codebooks
 *    must represent into the in-cell displacement, so at the same code
 *    budget the candidate pool is truer and a smaller rerank `r` reaches
 *    the same recall — the lever that matters at 100 TB, where rerank
 *    reads r float vectors per query. Global stays the default: encode is
 *    a single cell-independent projection reusable across layouts, and
 *    the established oracle replays it.
 *  - The index layout is one parquet partition directory per cell holding
 *    only (vec_id, codes) — 8 B of codes per vector at m=8. Rerank reads
 *    the float vectors for just the r candidates per query via an equi-join
 *    back to the corpus table.
 *
 * Scale shape: driver state is centroids (nlist×dim floats) + codebooks
 * (m×k×subDim floats) — kilobytes, broadcast as plan literals. The probe
 * join is a broadcast of (query × nprobe) rows against the cell-partitioned
 * code scan; nothing driver-side grows with the corpus.
 */
object IvfPqIndex {

  /** Coarse quantizer + product codebooks, trained on the same corpus.
    * `residual = true` means the codebooks quantize x̂ − c(cell) and ADC
    * scores reconstruct q̂·x̂ as q̂·c + q̂·r̂. */
  final case class Model(coarse: IvfIndex.Model, pq: PqIndex.Codebooks,
      residual: Boolean = false) {
    /** Layout identity of the COMPOSED quantizer: both stages determine
      * the stored bytes (cells from the coarse centroids, codes from the
      * codebooks — and residual mode changes what a code means), so all
      * three feed the stamp [[IvfIndex.requireModelMatches]] verifies. */
    lazy val fingerprint: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(coarse.fingerprint.getBytes("UTF-8"))
      md.update((if (residual) 1 else 0).toByte)
      val buf = java.nio.ByteBuffer.allocate(4)
      def putInt(i: Int): Unit = { md.update(buf.putInt(i).array()); buf.clear() }
      // FRAME the codebook shape before the float stream (m, then each
      // book's k, then each codeword's subDim): a flat stream lets two
      // shapes with the same total float count hash identically even
      // though (m, k) change what a stored code MEANS — the coarse stamp
      // avoids this only because nlist is hashed first
      putInt(pq.books.size)
      pq.books.foreach { book =>
        putInt(book.size)
        book.foreach { cw =>
          putInt(cw.size)
          cw.foreach(f => putInt(java.lang.Float.floatToIntBits(f)))
        }
      }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** The centroid of the assigned cell, as an array column (1-based
    * element_at over the broadcast centroid literals). */
  private def centroidCol(coarse: IvfIndex.Model, cell: Column): Column =
    element_at(array(coarse.centroids.map(c => typedlit(c)): _*), cell + 1)

  /** x̂ − c(cell) for an already-normalized vector column. */
  private def residualCol(coarse: IvfIndex.Model, e: Column, cell: Column): Column =
    zip_with(e, centroidCol(coarse, cell), (a, b) => (a - b).cast("float"))

  /** Train both stages (each deterministic — seeds are the first vectors
    * by id, see [[IvfIndex.train]] / [[PqIndex.train]]). With
    * `residual = true` the PQ stage trains on the coarse residuals
    * x̂ − c (un-normalized — the residual's magnitude IS information).
    * `stratifiedSeeds` passes through to the coarse stage — the
    * mass-proportional seeding [[rebuildIndex]] repairs balance with. */
  def train(corpus: DataFrame, nlist: Int, dim: Int = 64, m: Int = 8,
      k: Int = 16, coarseIters: Int = 3, pqIters: Int = 3,
      residual: Boolean = false, stratifiedSeeds: Boolean = false): Model = {
    val coarse = IvfIndex.train(corpus, nlist, coarseIters, stratifiedSeeds)
    if (!residual)
      Model(coarse, PqIndex.train(corpus, dim, m, k, pqIters))
    else {
      val res = corpus
        .select(col("vec_id"), PqIndex.normed(col("embedding")).as("_e"))
        .select(col("vec_id"), col("_e"),
          IvfIndex.nearestCell(coarse, col("_e")).as("cell"))
        .select(col("vec_id"),
          residualCol(coarse, col("_e"), col("cell")).as("embedding"))
      Model(coarse,
        PqIndex.train(res, dim, m, k, pqIters, normalize = false),
        residual = true)
    }
  }

  /** The persisted rows: PQ codes with their IVF cell assignment.
    * The normalized / encoded vectors are each materialized in their OWN
    * projection: the m×k codeword scorings reference them, and
    * `transform` (no codegen) re-evaluates inlined subexpressions per
    * reference (same trap as PqIndex.encode /
    * TextAnalysis.repetitionStats). */
  private def encoded(corpus: DataFrame, model: Model): DataFrame =
    IvfIndex.assign(corpus, model.coarse)
      .select(col("vec_id"), col("cell"), PqIndex.normed(col("embedding")).as("_e"))
      .select(col("vec_id"), col("cell"),
        (if (model.residual)
          residualCol(model.coarse, col("_e"), col("cell"))
        else col("_e")).as("_enc"))
      .select(col("vec_id"), col("cell"),
        PqIndex.codesColumn(model.pq, col("_enc")).as("codes"))

  /** Persist the index: PQ codes partitioned by IVF cell (`cell=<i>/`
    * inside the base slice — the [[IvfIndex]] slice layout, shared).
    * A probe of `nprobe` cells reads nprobe/nlist of the CODES — the float
    * vectors are not in the index at all. Residual models encode
    * x̂ − c(cell); global models encode x̂ directly. */
  def writeIndex(corpus: DataFrame, model: Model, path: String): Unit =
    IvfIndex.replaceRoot(encoded(corpus, model), path, Some(model.fingerprint))

  /** Route NEW vectors into the existing code layout — [[IvfIndex
    * .appendToIndex]] for the composed index: centroids and codebooks
    * stay frozen, cost ∝ the delta, cell balance drifts as the corpus
    * grows. [[IvfIndex.cellStats]]/[[IvfIndex.driftReport]] read this
    * layout unchanged (same slice dirs, codes instead of floats), and
    * [[rebuildIndex]] is the repair. Appends are batch-id-addressed
    * slices like the float index's — replay-idempotent. */
  def appendToIndex(delta: DataFrame, model: Model, path: String): Unit = {
    appendToIndex(delta, model, path,
      IvfIndex.nextBatchId(delta.sparkSession, path))
    ()
  }

  /** Batch-id-addressed append (the streaming overload, PQ-code flavor):
    * false = slice existed, replay skipped. Stamped AND
    * post-rename-verified — the full race closure, shared with the float
    * layout ([[IvfIndex.appendSliceVerified]]). */
  def appendToIndex(delta: DataFrame, model: Model, path: String,
      batchId: Long): Boolean = {
    val spark = delta.sparkSession
    IvfIndex.requireModelMatches(spark, path, model.fingerprint)
    IvfIndex.appendSliceVerified(encoded(delta, model), path, batchId,
      model.fingerprint)
  }

  /** The composed layout's measured recall/cost curve —
    * [[IvfIndex.probeCurveWith]] over the cell-pruned ADC search at the
    * probed-mass rerank pool ([[IvfBqIndex.scaledProbedPool]] — the same
    * probed-fraction discipline; the pack query's fixed r=50 stays
    * pinned to its established oracle). */
  def probeCurve(spark: SparkSession, path: String, corpus: DataFrame,
      queries: DataFrame, model: Model, k: Int, n: Long): DataFrame =
    IvfIndex.probeCurveWith(spark, path, corpus, queries, model.coarse, k)(
      (q, np) => searchIndex(spark, path, corpus, q, model, k, np,
        r = math.max(k,
          IvfBqIndex.scaledProbedPool(n, model.coarse.nlist, np))))

  /** Retrain BOTH stages on the current corpus (the code layout carries
    * no floats, so the corpus frame is required — at scale it is the
    * table the index was built from) and commit the re-encoded layout as
    * the next base generation — crash-atomic by the same single-rename
    * fold as [[IvfIndex.rebuildIndex]]. The coarse stage reseeds
    * mass-proportionally, so a drifted mega-cell splits; returns the new
    * model (old models probe the wrong cells of the new layout — same
    * contract as the IVF rebuild). */
  def rebuildIndex(spark: SparkSession, path: String, corpus: DataFrame,
      nlist: Int, dim: Int = 64, m: Int = 8, k: Int = 16,
      coarseIters: Int = 3, pqIters: Int = 3,
      residual: Boolean = false): Model = {
    // live-set snapshot BEFORE training — the commit guards' baseline
    // (IvfIndex.commitRebuild's contract): a slice appended during the
    // two-stage training aborts the commit loudly instead of being
    // folded un-read
    val snapshot = IvfIndex.liveSliceDirs(spark, path)
    val model = train(corpus, nlist, dim, m, k, coarseIters, pqIters,
      residual, stratifiedSeeds = true)
    IvfIndex.commitRebuild(spark, path, encoded(corpus, model),
      Some(model.fingerprint), snapshot)
    model
  }

  /**
   * Cell-pruned ADC + exact rerank over a persisted index. Per query: the
   * `nprobe` closest cells are probed (equi-join on `cell` against the
   * broadcast query side → dynamic partition pruning skips every other
   * cell directory), candidates are ADC-scored from codes alone, the top
   * `r` are re-scored exactly from the corpus floats, and the top `k` win.
   */
  def searchIndex(spark: SparkSession, path: String, corpus: DataFrame,
      queries: DataFrame, model: Model, k: Int, nprobe: Int, r: Int): DataFrame = {
    require(r >= k, "rerank pool must be at least k")
    IvfIndex.requireModelMatches(spark, path, model.fingerprint)
    val encoded = IvfIndex.readIndex(spark, path) // (vec_id, codes, cell)

    // probe cells score on the NORMALIZED query (same ranking as raw —
    // positive rescale — and in residual mode the probe score IS the
    // q̂·c term of the reconstruction); ADC tables need the normalized
    // query too — each in a named projection (HOF re-eval trap)
    val q = queries
      .select(col("vec_id").as("query_id"),
        PqIndex.normed(col("embedding")).as("_e"))
      .select(col("query_id"), col("_e"),
        IvfIndex.probeCellsColumn(model.coarse, col("_e"), nprobe).as("_pc"))
      .select(col("query_id"),
        PqIndex.adcTablesColumn(model.pq, col("_e")).as("tables"),
        col("_pc"))
      .select(col("query_id"), col("tables"), explode(col("_pc")).as("probe"))
      .select(col("query_id"), col("tables"), col("probe.cell").as("cell"),
        col("probe.score").as("cell_dot"))

    // residual ADC reconstructs q̂·x̂ ≈ q̂·c + q̂·r̂: the cell term comes
    // from the probe, the residual term from the lookup tables; global
    // ADC is the table sum alone
    val adcTable = PqIndex.adcScore(col("codes"), col("tables"))
    val adc = if (model.residual) adcTable + col("cell_dot") else adcTable
    val scored = encoded.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        // quantized before ranking so the candidate cut is ulp-robust
        // cross-engine (see Similarity.q9)
        round(adc, 9).as("adc_score"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc_score").desc, col("vec_id").asc)
    val cands = scored.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= r)
      .select("query_id", "vec_id")

    val emb = corpus.select(col("vec_id"), col("embedding"))
    val qemb = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("query_vec"))
    val exact = cands.join(emb, "vec_id").join(broadcast(qemb), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(VectorFunctions.cosine_sim(col("embedding"), col("query_vec")), 9)
          .as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    exact.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Models memoized per corpus (train once, search many — the production
    * shape). */
  private val models = new graft.Memo[String, Model]

  /** The one model of this session, if any — lets graft.queries emit the
    * composed oracle SQL from the exact centroids + codebooks the query
    * used. */
  def cachedModel: Option[Model] = models.only

  /** Query-pack adapter: train (or reuse) the composed model, persist the
    * cell-partitioned code layout (once), search the first 5 vectors with
    * a corpus-sized probe count ([[IvfIndex.scaledNlist]] cells,
    * [[IvfIndex.scaledNprobe]] probes — decade-stable occupancy), ADC
    * pool r=50, exact top-10. */
  def ivfpqQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val nl = IvfIndex.scaledNlist(
      graft.sources.Tables.rowCount(spark, sfDir, "embeddings"))
    val model = models(s"$sfDir#nlist=$nl#m=8#k=16") {
      train(emb, nlist = nl, dim = 64, m = 8, k = 16,
        coarseIters = 2, pqIters = 2)
    }
    val dir = graft.WorkDirs.once(s"ivfpq_$sfDir")(writeIndex(emb, model, _))
    searchIndex(spark, dir, emb, emb.filter(col("vec_id") < 5), model,
      k = 10, nprobe = IvfIndex.scaledNprobe(nl), r = 50)
  }

  /** Residual models live in their OWN memo so [[cachedModel]] stays
    * the global model's. */
  private val residualModels = new graft.Memo[String, Model]

  /** The one RESIDUAL model of this session, if any — twin of
    * [[cachedModel]] for the residual oracle generator. */
  def cachedResidualModel: Option[Model] = residualModels.only

  /** Query-pack adapter for the RESIDUAL composed index: same corpus,
    * probe, pool, and k as [[ivfpqQuery]], but codes quantize x̂ − c and
    * ADC reconstructs q̂·c + q̂·r̂ — the IVFADC §IV scheme, hash-checked
    * against a generated SQL replay like its global twin. */
  def ivfpqResidualQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val nl = IvfIndex.scaledNlist(
      graft.sources.Tables.rowCount(spark, sfDir, "embeddings"))
    val model = residualModels(s"$sfDir#res#nlist=$nl#m=8#k=16") {
      train(emb, nlist = nl, dim = 64, m = 8, k = 16,
        coarseIters = 2, pqIters = 2, residual = true)
    }
    val dir = graft.WorkDirs.once(s"ivfpqres_$sfDir")(writeIndex(emb, model, _))
    searchIndex(spark, dir, emb, emb.filter(col("vec_id") < 5), model,
      k = 10, nprobe = IvfIndex.scaledNprobe(nl), r = 50)
  }
}
