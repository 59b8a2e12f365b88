package graft.operators

import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Optimized Product Quantization — the parametric scheme of Ge et al.,
 * "Optimized Product Quantization for Approximate Nearest Neighbor
 * Search" (CVPR'13, §4): rotate the space by an orthonormal matrix
 * BEFORE product quantization so the per-subspace codebooks quantize
 * decorrelated, variance-balanced coordinates. The rotation is built
 * from the corpus PCA (components are orthonormal and decorrelate by
 * construction); its rows are then dealt across the `m` subspaces by
 * EIGENVALUE ALLOCATION — greedy balancing of each subspace's
 * log-variance product — because feeding PCA components to subspaces in
 * raw order concentrates nearly all variance in subspace 0 and starves
 * the rest (the paper's motivating failure of "PCA then PQ").
 *
 * Cosine ranking is invariant under the rotation (orthonormal maps
 * preserve dots and norms), so OPQ search is EXACTLY the PQ pipeline on
 * rotated vectors: ADC candidates from rotated codes, exact rerank on
 * the RAW embeddings. Same code budget as [[PqIndex]] (m×k codebooks,
 * m small codes per vector), strictly better-fitting codebooks — the
 * measured recall gap vs the pq tier is asserted by the recall gate.
 *
 * Scale shape: the rotation is d×d floats of driver state (16 KiB at
 * d=64) broadcast as plan literals next to the codebooks; applying it
 * is a narrow per-row map of d codegen'd [[VectorFunctions.dot_product]]
 * kernels (no shuffle, no HOF lambda in the hot path); everything
 * downstream is the PQ scan shape — codes only, floats touched for the
 * r rerank candidates per query.
 */
object OpqIndex {

  /** Orthonormal rotation rows (subspace-blocked PCA components) + the
    * product codebooks trained in the rotated space. */
  final case class Model(rotation: Array[Array[Float]], pq: PqIndex.Codebooks)

  /**
   * Eigenvalue allocation (Ge et al. §4.2): deal component indices —
   * already in DESCENDING eigenvalue order from [[EmbeddingPca.fit]] —
   * into `m` buckets of `d/m`, each next component to the open bucket
   * with the smallest current log-variance product (ties → lowest
   * bucket). Balancing the PRODUCT balances the optimal per-subspace
   * quantizer distortion under the independence assumption.
   * Deterministic: fixed iteration order, integer tiebreak.
   */
  private[graft] def balancedAllocation(evals: Array[Double], m: Int): Seq[Seq[Int]] = {
    require(evals.length % m == 0, "m must divide the dimension")
    val subDim = evals.length / m
    val rawLogs = evals.map(v => math.log(math.max(v, java.lang.Double.MIN_NORMAL)))
    // Shift logs to be non-negative before the greedy: buckets end with
    // equal cardinality, so a per-item constant shift leaves the FINAL
    // spread unchanged — but it rescues the greedy TRAJECTORY. With raw
    // negative logs (every eigenvalue of a unit-norm corpus is < 1),
    // "add to the smallest sum" makes a bucket MORE attractive with
    // every item it eats: bucket 0 swallows the top subDim components
    // and the allocation degenerates to exactly the contiguous split it
    // exists to avoid. Shifted, the classic largest-first/lightest-bin
    // greedy spreads the high-variance components one per bucket.
    val shift = rawLogs.min
    val logs = rawLogs.map(_ - shift)
    val buckets = Array.fill(m)(List.empty[Int])
    val sums = new Array[Double](m)
    evals.indices.foreach { i =>
      val best = (0 until m).filter(b => buckets(b).size < subDim)
        .minBy(b => (sums(b), b))
      buckets(best) = i :: buckets(best)
      sums(best) += logs(i)
    }
    // ascending component order inside each subspace — a fixed, readable
    // layout (order within a subspace does not affect its variance mass)
    buckets.map(_.sorted).toSeq
  }

  /** The rotation as row vectors: subspace s occupies rows
    * [s·subDim, (s+1)·subDim) and holds its allocated PCA components.
    * Components are float-rounded ONCE here — the same literals feed the
    * engine plan and the generated oracle SQL. */
  private[graft] def rotationRows(pca: EmbeddingPca.Model, m: Int): Array[Array[Float]] = {
    val alloc = balancedAllocation(pca.eigenvalues, m)
    alloc.flatten.map(ci => pca.components(ci).map(_.toFloat)).toArray
  }

  /** Rotate the L2-normalized embedding: y_c = R_c · x̂, each coordinate
    * float-rounded (the [[PqIndex.normed]] discipline — downstream dots
    * are then float-seeded on both engines). The normalized vector is
    * materialized in its own projection BEFORE the d dot kernels
    * reference it (the HOF re-eval trap — see [[PqIndex.encode]]). */
  private[graft] def rotate(corpus: DataFrame, rotation: Array[Array[Float]]): DataFrame =
    corpus.select(col("vec_id"), PqIndex.normed(col("embedding")).as("_nv"))
      .select(col("vec_id"), array(rotation.map(rw =>
        VectorFunctions.dot_product(col("_nv"), typedlit(rw.toSeq)).cast("float")): _*)
        .as("embedding"))

  /** Fit: PCA (shared with the pca tier via [[EmbeddingPca.fitCached]]),
    * eigenvalue-allocated rotation, then plain [[PqIndex.train]] in the
    * rotated space (`normalize = false` — rotation preserved the unit
    * norm; renormalizing would perturb the floats for nothing). The
    * rotated corpus is checkpointed once so Lloyd's iterations re-read
    * local blocks instead of re-rotating per pass. */
  def train(spark: SparkSession, sfDir: String, corpus: DataFrame,
      m: Int = 8, k: Int = 16, iters: Int = 2): Model = {
    val pca = EmbeddingPca.fitCached(spark, sfDir)
    val rot = rotationRows(pca, m)
    val rotated = rotate(corpus, rot).localCheckpoint()
    Model(rot, PqIndex.train(rotated, dim = rot.length, m = m, k = k,
      iters = iters, normalize = false))
  }

  /** OPQ search: rotate corpus + queries, ADC over rotated codes, exact
    * cosine rerank on the RAW embeddings (rotation-invariant ranking, so
    * the rerank needs no rotation). */
  def searchWithRerank(corpus: DataFrame, queries: DataFrame, model: Model,
      k: Int, r: Int): DataFrame = {
    require(r >= k, "rerank pool must be at least k")
    val encoded = rotate(corpus, model.rotation)
      .select(col("vec_id"),
        PqIndex.codesColumn(model.pq, col("embedding")).as("codes"))
    val tables = rotate(queries, model.rotation)
      .select(col("vec_id").as("query_id"),
        PqIndex.adcTablesColumn(model.pq, col("embedding")).as("tables"))
    val cands = PqIndex.searchAdcPrepared(encoded, tables, r)
      .select(col("query_id"), col("vec_id"))
    PqIndex.rerankExact(cands, corpus, queries, k)
  }

  /** Models memoized per corpus: train once, search many. */
  private val models = new graft.Memo[String, Model]

  /** The one model of this session, for oracle-SQL generation. */
  def cachedModel: Option[Model] = models.only

  /** Query-pack adapter — the q_ann_pq shape (same m/k/iters/r/k cuts)
    * with the learned rotation in front, so the two tiers' recall rows
    * isolate exactly what the rotation buys. */
  def opqQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val model = models(sfDir)(train(spark, sfDir, emb))
    searchWithRerank(emb, emb.filter(col("vec_id") < 5), model, k = 10, r = 50)
  }
}
