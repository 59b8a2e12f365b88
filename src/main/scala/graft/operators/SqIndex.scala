package graft.operators

import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Scalar quantization (SQ8) ANN — the third point on the engine's
 * memory/recall trade-off curve, between raw floats (4 B/dim) and PQ
 * (1 B/8 dims): each dimension of the L2-normalized vector is quantized
 * independently to an int8 code against a per-dimension scale
 * (max|x̂_d|/127 over the corpus — the FAISS `ScalarQuantizer` QT_8bit
 * scheme), so a dim-64 vector stores in 64 B instead of 256 B with far
 * less distortion than PQ. Search is asymmetric like ADC: the query stays
 * exact, corpus codes dequantize on the fly (codes·scale), score is the
 * dot product against the normalized query, and the usual exact-rerank
 * tail repairs the tail of the ranking.
 *
 * Scale shape: the model is 64 doubles (broadcast as plan literals); the
 * scan side reads int codes only; dequantize + dot stay in one narrow
 * projection per candidate row. Training is one posexplode → groupBy(dim)
 * → max aggregation — and `max` over floats is EXACT and order-free, so
 * the model (and every oracle literal from it) is deterministic without
 * any of the decimal-sum machinery k-means needs.
 */
object SqIndex {

  /** Per-dimension dequantization scales (max|x̂_d|/127). */
  final case class Model(scales: Seq[Double]) {
    def dim: Int = scales.size
  }

  /** Train: per-dimension max absolute component of the normalized
    * corpus. One shuffle of dim rows; max is order-independent. */
  def train(corpus: DataFrame): Model = {
    val rows = corpus
      .select(PqIndex.normed(col("embedding")).as("_e"))
      .select(posexplode(col("_e")).as(Seq("dim", "x")))
      .groupBy("dim").agg(max(abs(col("x"))).as("m"))
      .collect()
    val byDim = rows.map(r => r.getAs[Int]("dim") -> r.getAs[Float]("m")).toMap
    Model((0 until byDim.size).map(d => byDim(d).toDouble / 127.0))
  }

  /** (vec_id, codes) — int8-range codes (stored as array<int>; the byte
    * width is the storage contract, the arithmetic is exact either way).
    * code_d = round(x̂_d / scale_d), HALF_UP like the SQL twin; an
    * all-zero dimension (scale 0) codes to 0. The normalized vector is
    * materialized in its own projection first (interpreted-HOF re-eval
    * trap — see [[PqIndex.encode]]). */
  def encode(corpus: DataFrame, model: Model): DataFrame =
    corpus
      .select(col("vec_id"), PqIndex.normed(col("embedding")).as("_e"))
      .select(col("vec_id"),
        zip_with(col("_e"), typedlit(model.scales),
          (x, s) => when(s === 0d, lit(0))
            .otherwise(round(x / s, 0).cast("int"))).as("codes"))

  /** Dequantized float vector from codes — `codes·scale` rounded back to
    * float per component (what an int8 scan materializes per candidate). */
  private def deqCol(model: Model) =
    zip_with(col("codes"), typedlit(model.scales),
      (c, s) => (c.cast("double") * s).cast("float"))

  /**
   * Asymmetric SQ search + exact rerank: score every (query, candidate)
   * pair as normalized-query · dequantized-candidate, keep the top `r`
   * per query, re-score those exactly, keep the top `k`.
   */
  def searchWithRerank(corpus: DataFrame, queries: DataFrame, model: Model,
      k: Int, r: Int): DataFrame = {
    require(r >= k, "rerank pool must be at least k")
    val deq = encode(corpus, model)
      .select(col("vec_id"), deqCol(model).as("deq"))
    val q = queries
      .select(col("vec_id").as("query_id"),
        PqIndex.normed(col("embedding")).as("qv"))
    val scored = deq.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        // quantized before the candidate cut, like every float kernel
        round(VectorFunctions.dot_product(col("deq"), col("qv")), 9)
          .as("sq_score"))
    val wSq = Window.partitionBy("query_id")
      .orderBy(col("sq_score").desc, col("vec_id").asc)
    val cands = scored.withColumn("rn", row_number().over(wSq))
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

  /** Models memoized per corpus; the single model feeds the oracle
    * generator. */
  private val models = new graft.Memo[String, Model]

  def cachedModel: Option[Model] = models.only

  /** Query-pack adapter: SQ8-compress the corpus, search the first 5
    * vectors asymmetrically with exact rerank — same probe/pool/k as the
    * PQ twin so the two compression points compare directly. */
  def sqQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val model = models(sfDir)(train(emb))
    searchWithRerank(emb, emb.filter(col("vec_id") < 5), model, k = 10, r = 50)
  }
}
