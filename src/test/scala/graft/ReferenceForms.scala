package graft

import graft.functions.VectorFunctions
import graft.operators.{EmbeddingPca, IvfIndex, PqIndex, Similarity}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The interpreted forms that the codegen'd ANN/window kernels and the
  * occupancy-bound ANN tiers replaced, kept as the equivalence references
  * the specs pin them against. No query path uses them. */
object ReferenceForms {

  /** Fold form of [[IvfIndex.nearestCell]]: strictly-greater keeps the
    * first (lowest-index) cell on score ties. */
  def nearestCellReference(model: IvfIndex.Model, vec: Column): Column = {
    val scored = model.centroids.zipWithIndex.map { case (c, i) =>
      struct(VectorFunctions.dot_product(vec, typedlit(c)).as("score"),
        lit(i).as("cell"))
    }
    aggregate(array(scored.tail: _*), scored.head,
      (best, x) => when(x("score") > best("score"), x).otherwise(best))("cell")
  }

  /** Sort form of [[IvfIndex.probeCellsColumn]]: stable (score desc,
    * cell asc) order, first `nprobe` cells. */
  def probeCellsColumnReference(model: IvfIndex.Model, vec: Column, nprobe: Int): Column = {
    val scoredCells = model.centroids.zipWithIndex.map { case (c, i) =>
      struct(VectorFunctions.dot_product(vec, typedlit(c)).as("score"),
        lit(i).as("cell"))
    }
    slice(
      array_sort(array(scoredCells: _*),
        (a, b) => when(a("score") > b("score"), -1)
          .when(a("score") < b("score"), 1).otherwise(0)),
      1, nprobe)
  }

  /** HOF form of [[PqIndex.normed]]. */
  def normedReference(vec: Column): Column = {
    val n2 = VectorFunctions.dot_product(vec, vec)
    transform(vec, x =>
      when(n2 === 0d, x).otherwise((x / sqrt(n2)).cast("float")))
  }

  /** Expression form of [[PqIndex.codesColumn]]. */
  def codesColumnReference(model: PqIndex.Codebooks, e: Column): Column =
    array((0 until model.m).map(s =>
      PqIndex.nearestCode(model.books(s), PqIndex.subCol(e, s, model.subDim))): _*)

  /** Expression form of [[PqIndex.adcTablesColumn]]. */
  def adcTablesColumnReference(model: PqIndex.Codebooks, e: Column): Column =
    array((0 until model.m).map(s =>
      array(model.books(s).map(c =>
        VectorFunctions.dot_product(PqIndex.subCol(e, s, model.subDim), typedlit(c))): _*)): _*)

  /** HOF form of [[PqIndex.adcScore]]: the left fold of the looked-up
    * table entries. */
  def adcScoreReference(codes: Column, tables: Column): Column =
    aggregate(zip_with(codes, tables,
        (cd, tb) => element_at(tb, cd + lit(1))),
      lit(0d), (a, x) => a + x)

  /** HOF form of the dedup window occurrences: per-token xxhash64, then
    * one n-way xxhash64 per window start. */
  def windowOccurrencesReference(base: DataFrame, n: Int): DataFrame =
    base.select(col("doc_id"),
        transform(col("lt"), t => xxhash64(t)).as("_th"))
      .select(col("doc_id"),
        posexplode(
          when(size(col("_th")) >= n,
            transform(sequence(lit(0), size(col("_th")) - n),
              i => xxhash64((0 until n).map(j =>
                element_at(col("_th"), i + j + 1)): _*)))
          .otherwise(array().cast("array<bigint>"))).as(Seq("pos", "w")))

  /** Full-corpus Matryoshka two-stage retrieval, the form
    * [[Similarity.mrlBucketedTopK]] replaced: prefix-`dPrefix` cosine over
    * every corpus vector, `r` candidates per query, full-dimension rerank. */
  def mrlTopK(corpus: DataFrame, queries: DataFrame, dPrefix: Int,
      r: Int, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val scored = corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"), col("embedding"), col("query_vec"),
        Similarity.q9(VectorFunctions.cosine_sim(
          slice(col("embedding"), 1, dPrefix),
          slice(col("query_vec"), 1, dPrefix))).as("prefix_cos"))
    val wPre = Window.partitionBy("query_id")
      .orderBy(col("prefix_cos").desc, col("vec_id").asc)
    val wFull = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("_pr", row_number().over(wPre))
      .filter(col("_pr") <= r)
      .select(col("query_id"), col("vec_id"), col("prefix_cos"),
        Similarity.q9(VectorFunctions.cosine_sim(col("embedding"), col("query_vec")))
          .as("cosine"))
      .withColumn("rank", row_number().over(wFull).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Full-corpus PCA two-stage retrieval, the form
    * [[EmbeddingPca.pcaBucketedTopK]] replaced: squared L2 between the
    * 8-d projections over every corpus vector, `r` candidates per query,
    * full-dimension rerank. */
  def pcaTopK(corpus: DataFrame, queries: DataFrame, model: EmbeddingPca.Model,
      nComp: Int = EmbeddingPca.NComponents, r: Int = 100, k: Int = 20): DataFrame = {
    val comps = (0 until nComp).map(c => model.components(c).map(_.toFloat))
    def coords(e: Column): Column =
      array(comps.map(w => EmbeddingPca.rawCoord(e, w)): _*)
    val cor = corpus.select(col("vec_id"), col("embedding"),
      coords(col("embedding")).as("pc"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("query_vec"), coords(col("embedding")).as("qpc"))
    val dist = (0 until nComp).map { c =>
      val d = element_at(col("pc"), c + 1) - element_at(col("qpc"), c + 1)
      d * d
    }.reduce(_ + _) // left-assoc — the oracle sums in the same order
    val scored = cor.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"),
        col("query_vec"), Similarity.q9(dist).as("pca_dist"))
    val wPre = Window.partitionBy("query_id")
      .orderBy(col("pca_dist").asc, col("vec_id").asc)
    val wFull = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("_pr", row_number().over(wPre))
      .filter(col("_pr") <= r)
      .select(col("query_id"), col("vec_id"), col("pca_dist"),
        Similarity.q9(VectorFunctions.cosine_sim(
          col("embedding"), col("query_vec"))).as("cosine"))
      .withColumn("rank", row_number().over(wFull).cast("bigint"))
      .filter(col("rank") <= k)
  }
}
