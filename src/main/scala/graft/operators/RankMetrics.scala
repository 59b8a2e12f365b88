package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Retrieval-quality metrics for the search tier — the evaluation half a
 * search pipeline needs next to its index: nDCG@k and MRR@k of a ranking
 * against graded relevance.
 *
 * Cross-engine determinism: the DCG discount weights 1/log2(r+1) are
 * computed ONCE on the driver and emitted as literals into both the
 * engine expression and the generated oracle SQL — neither engine calls
 * a libm log — per-rank contributions micro-quantize (floor(x·10⁶+0.5))
 * before summing as longs, and the final nDCG/MRR ratios divide those
 * integers. Nothing in the metric depends on float summation order.
 *
 * Scale shape: the ranking is already top-k (bounded); gains join it by
 * doc id; the ideal ordering is a TakeOrdered of the gains table
 * followed by a k-row window — no global sort, no corpus-sized state.
 */
object RankMetrics {

  /** 1/log2(r+1) for r = 1..k — driver-computed literal weights. */
  def dcgWeights(k: Int): Array[Double] =
    (1 to k).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0))).toArray

  /**
   * nDCG@k and MRR@k of `ranked` (doc_id, rank — rank 1-based, ties
   * already broken) against `gains` (doc_id, gain ≥ 1; absent docs have
   * gain 0). One row: (k, dcg_micro, idcg_micro, ndcg_micro, mrr_micro).
   */
  def metricsAt(ranked: DataFrame, gains: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1)
    val w = lit(dcgWeights(k))
    val contrib = floor(coalesce(col("gain"), lit(0L)).cast("double") *
      element_at(w, col("rank").cast("int")) * lit(1000000.0) + lit(0.5))
      .cast("bigint")
    val dcg = ranked.filter(col("rank") <= k)
      .join(gains, Seq("doc_id"), "left")
      .agg(sum(contrib).as("dcg_micro"),
        min(when(coalesce(col("gain"), lit(0L)) > 0, col("rank"))).as("_fr"))
    // ideal ranking: top-k gains (TakeOrdered), ranked inside the k rows
    val ideal = gains
      .orderBy(col("gain").desc, col("doc_id").asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("gain").desc, col("doc_id").asc))
          .cast("bigint")) // bounded k-row window after the limit
      .agg(sum(floor(col("gain").cast("double") *
        element_at(w, col("rank").cast("int")) * lit(1000000.0) + lit(0.5))
        .cast("bigint")).as("idcg_micro"))
    dcg.crossJoin(ideal).select(
      lit(k.toLong).as("k"),
      col("dcg_micro"), col("idcg_micro"),
      floor(col("dcg_micro").cast("double") / col("idcg_micro").cast("double")
        * lit(1000000.0) + lit(0.5)).cast("bigint").as("ndcg_micro"),
      when(col("_fr").isNull, 0L)
        .otherwise(floor(lit(1000000.0) / col("_fr").cast("double") + lit(0.5)))
        .cast("bigint").as("mrr_micro"))
  }

  /** Query-pack adapter: nDCG@10 / MRR@10 of the BM25 ranking for the
    * (merge, sort, window) query, gains = distinct query terms present
    * in the doc (same single-space tokenization as the index). */
  def searchNdcgQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val terms = Seq("merge", "sort", "window")
    val gains = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy("doc_id")
      .agg(countDistinct(col("w")).as("gain"))
    // reuse the declared BM25 ranking (rational-idf, driver-compared)
    val ranked = graft.queries.SearchQueries.bm25SearchQuery(spark, sfDir)
      .select(col("doc_id"), col("rank"))
    metricsAt(ranked, gains, k = 10)
  }
}

